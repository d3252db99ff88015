"""Regression pins for review-pass fixes: IVF probe id-collision,
LSH band validation, NULL-text dedup semantics, null-safe Delta merge
ordering, committed-version snapshot history, and the expr MinHash
path reachable through the public API."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row, functions as F


def test_cosine_topk_exclude_self_flag(spark):
    from dataeng_azure_spotify_spark.operators.similarity import cosine_topk

    qs = spark.createDataFrame([Row(vec_id=0, embedding=[1.0, 0.0])])
    corpus = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, 0.0]), Row(vec_id=1, embedding=[0.9, 0.1])]
    )
    with_self = {r["neighbor_id"] for r in
                 cosine_topk(qs, corpus, k=2, exclude_self=False).collect()}
    without = {r["neighbor_id"] for r in
               cosine_topk(qs, corpus, k=2).collect()}
    assert 0 in with_self and 0 not in without


def test_ivf_query_probes_bucket_of_colliding_centroid_id(spark, tmp_path):
    """A query whose vec_id equals a centroid id must still probe that
    centroid's bucket — before the fix its own (likely nearest) bucket
    was silently excluded from routing."""
    from dataeng_azure_spotify_spark.operators.similarity import IvfIndex

    # two far-apart clusters; ids 0..9 in cluster A, 100..109 in B
    rows = [Row(vec_id=i, embedding=[10.0 + (i % 10) * 0.01, 0.0])
            for i in range(10)]
    rows += [Row(vec_id=100 + i, embedding=[0.0, 10.0 + i * 0.01])
             for i in range(10)]
    emb = spark.createDataFrame(rows)
    idx = IvfIndex.build(emb, str(tmp_path / "ivf"), num_centroids=2)
    # centroid ids are SEEDED FROM CORPUS vec_ids — query with exactly
    # the id of cluster A's centroid so the old q_id != c_id routing
    # filter would have dropped the query's own (nearest) bucket
    cent_ids = [
        r["centroid_id"]
        for r in spark.read.parquet(str(tmp_path / "ivf" / "centroids")).collect()
    ]
    a_cent = next(c for c in cent_ids if c < 100)
    q = spark.createDataFrame([Row(vec_id=int(a_cent), embedding=[10.0, 0.0])])
    got = {r["neighbor_id"] for r in idx.query(q, k=3, nprobe=1).collect()}
    # neighbors must come from the query's own cluster (ids < 100)
    assert got and all(n < 100 for n in got)


def test_minhash_bands_must_divide_hashes(spark):
    from dataeng_azure_spotify_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame([Row(doc_id=1, text="a b c d")])
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(docs, num_hashes=16, bands=6).collect()


def test_minhash_expr_impl_reachable_and_identical(spark):
    from dataeng_azure_spotify_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta epsilon {i % 3}")
         for i in range(12)]
    )
    arrow = sorted(map(tuple, minhash_signatures(docs).collect()))
    expr = sorted(map(tuple, minhash_signatures(docs, impl="expr").collect()))
    assert arrow == expr and len(arrow) > 0


def test_exact_dedup_ignores_null_text(spark):
    from dataeng_azure_spotify_spark.operators.dedup import exact_dedup_groups

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="same"), Row(doc_id=2, text="same"),
         Row(doc_id=3, text=None), Row(doc_id=4, text=None)],
        "doc_id long, text string",
    )
    groups = exact_dedup_groups(docs).collect()
    assert len(groups) == 1 and groups[0]["group_size"] == 2


def test_incremental_dedup_null_text_passes_through_untracked(spark, tmp_path):
    from dataeng_azure_spotify_spark.operators.dedup import IncrementalDedup

    d = IncrementalDedup(spark, str(tmp_path / "state"))
    batch = spark.createDataFrame(
        [Row(doc_id=1, text="real"), Row(doc_id=2, text=None),
         Row(doc_id=3, text=None)],
        "doc_id long, text string",
    )
    first = {r["doc_id"] for r in d.admit(batch).collect()}
    assert first == {1, 2, 3}  # NULL-text docs are NOT collapsed
    again = {r["doc_id"] for r in d.admit(batch).collect()}
    assert again == {2, 3}  # hashable doc deduped; NULLs pass through


def test_lexicographic_newer_is_null_safe(spark):
    from dataeng_azure_spotify_spark.streaming.gold import _lexicographic_newer

    cond = _lexicographic_newer("seq", [])
    cases = [  # (source_seq, target_seq, source_should_win)
        (2, 1, True), (1, 2, False), (1, 1, True),
        (1, None, True),   # non-null beats NULL (desc NULLS LAST)
        (None, 1, False),
        (None, None, True),  # both NULL tie -> update wins
    ]
    for s_val, t_val, want in cases:
        df = spark.sql(
            "SELECT named_struct('seq', CAST({} AS INT)) AS s, "
            "named_struct('seq', CAST({} AS INT)) AS t".format(
                "NULL" if s_val is None else s_val,
                "NULL" if t_val is None else t_val,
            )
        ).selectExpr(f"({cond}) AS win")
        got = df.collect()[0]["win"]
        assert bool(got) == want, (s_val, t_val, got)


def test_snapshot_history_is_version_ordered_and_orphan_safe(spark, tmp_path):
    from dataeng_azure_spotify_spark.streaming.gold import ParquetSnapshotTable

    t = ParquetSnapshotTable(spark, str(tmp_path / "tbl"))
    for v in range(3):
        t.overwrite(spark.createDataFrame([Row(v=v)]))
    hist = t.history()
    assert len(hist) == 3 and hist[-1] == t._live()
    assert [t._snap_n(h) for h in hist] == [0, 1, 2]
    assert t._snap_n("snap-123456789012") is None  # not version 123456789012
    assert t.read_version(-1).collect()[0]["v"] == 2
    assert t.read_version(0).collect()[0]["v"] == 0

    # orphan from a crashed writer: higher version, never repointed
    orphan = os.path.join(str(tmp_path / "tbl"), "snap-00000099-deadbeef")
    os.makedirs(orphan)
    assert t.history() == hist  # excluded from history
    t.vacuum(keep_last=1)
    assert t.history() == hist[-1:]  # only the live snapshot kept
    assert os.path.exists(orphan)  # never races a possible in-flight writer
    assert t.read().collect()[0]["v"] == 2


def test_snapshot_crashed_first_commit_is_not_history(spark, tmp_path):
    """A writer that crashed before the FIRST commit of a table leaves
    an orphan ``snap-00000000-*``; the first real commit is version 0
    and removes it, so it never becomes history, read_version(0) or a
    change-feed preimage."""
    from dataeng_azure_spotify_spark.streaming.gold import ParquetSnapshotTable

    S = "id long, v string"
    base = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "crashed")], S).write.parquet(
        os.path.join(base, "snap-00000000-deadbeef0000")
    )
    t = ParquetSnapshotTable(spark, base, cdf_keys=["id"])
    t.overwrite(spark.createDataFrame([(1, "a")], S))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], S))
    assert len(t.history()) == 2
    assert [tuple(r) for r in t.read_version(0).collect()] == [(1, "a")]
    feed = [tuple(r) for r in t.change_feed(["id"], 1).collect()]
    assert feed == [(2, "b", "insert", 1)]


def test_session_fold_late_event_cannot_reverse_time():
    import pandas as pd

    from dataeng_azure_spotify_spark.streaming.stateful import _close_sessions

    carried = (pd.Timestamp("2024-01-01 10:00"), pd.Timestamp("2024-01-01 10:00"), 1)
    ts = pd.Series([pd.Timestamp("2024-01-01 09:50"), pd.Timestamp("2024-01-01 11:00")])
    closed, open_tail = _close_sessions(ts, carried, gap_seconds=1800)
    # the late 09:50 folds in without moving the frontier back, so the
    # 11:00 event closes a WELL-FORMED session (end after start)
    assert len(closed) == 1
    start, end, n = closed[0]
    assert start == pd.Timestamp("2024-01-01 09:50") and n == 2
    assert end > start
    assert open_tail == (pd.Timestamp("2024-01-01 11:00"),
                         pd.Timestamp("2024-01-01 11:00"), 1)


def test_sessionize_batch_respects_key_col_name_and_type(spark):
    import datetime as dt

    from dataeng_azure_spotify_spark.streaming.stateful import sessionize_batch

    df = spark.createDataFrame(
        [Row(owner="alice", ts=dt.datetime(2024, 1, 1, 9, 0)),
         Row(owner="alice", ts=dt.datetime(2024, 1, 1, 9, 10))],
    )
    out = sessionize_batch(df, key_col="owner", include_open=True).collect()
    assert len(out) == 1 and out[0]["owner"] == "alice" and out[0]["n_events"] == 2


def test_rescue_payload_null_on_rows_without_drift(spark, tmp_path):
    from dataeng_azure_spotify_spark.streaming.rescue import read_bronze_stream

    bronze, schemas, out, chk = (
        str(tmp_path / d) for d in ("bronze", "schemas", "out", "chk")
    )
    spark.createDataFrame([Row(a=1)]).write.mode("append").parquet(bronze)
    read_bronze_stream(spark, bronze, schemas)  # declare schema = [a]
    spark.createDataFrame([Row(a=2, extra="x"), Row(a=3, extra=None)]).write.mode(
        "append"
    ).parquet(bronze)
    stream = read_bronze_stream(spark, bronze, schemas)
    q = (
        stream.writeStream.format("parquet")
        .option("checkpointLocation", chk).option("path", out)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r["a"]: r["_rescued_data"] for r in spark.read.parquet(out).collect()}
    # only the row that actually carried a drifted value has a payload —
    # '{}' stamps on pre-drift rows were the bug
    assert got[1] is None and got[3] is None
    assert got[2] is not None and "x" in got[2]


def test_bronze_drained_after_schema_persist_is_noop(spark, tmp_path):
    import shutil as sh

    from dataeng_azure_spotify_spark.streaming.rescue import read_bronze_stream

    bronze, schemas = str(tmp_path / "bronze"), str(tmp_path / "schemas")
    spark.createDataFrame([Row(a=1)]).write.mode("append").parquet(bronze)
    read_bronze_stream(spark, bronze, schemas)  # persists declared schema
    sh.rmtree(bronze)
    os.makedirs(bronze)
    # archived bronze: declared schema drives an empty stream, no crash
    stream = read_bronze_stream(spark, bronze, schemas)
    assert stream.isStreaming and "a" in stream.columns


def test_runlog_alert_query_before_first_run(spark, tmp_path):
    from dataeng_azure_spotify_spark.observability import RunLog, failed_runs_last

    log = RunLog(spark, str(tmp_path / "runlog"))
    assert failed_runs_last(log).count() == 0


def test_media_modality_handles_negative_ids(spark):
    from dataeng_azure_spotify_spark.sources.multimodal import documents_as_media

    docs = spark.createDataFrame(
        [Row(doc_id=-1, text="a"), Row(doc_id=-2, text="b"), Row(doc_id=3, text="c")]
    )
    rows = documents_as_media(docs).collect()
    assert len(rows) == 3
    assert all(r["modality"] in ("image", "audio", "video") for r in rows)


def test_range_join_subsecond_interval_end_not_dropped(spark):
    import datetime as dt

    from dataeng_azure_spotify_spark.operators.asof import range_join

    left = spark.createDataFrame(
        [Row(k=1, t=dt.datetime(2024, 1, 1, 11, 0, 0, 200_000))]
    )
    right = spark.createDataFrame(
        [Row(k=1, s=dt.datetime(2024, 1, 1, 10, 0, 0),
             e=dt.datetime(2024, 1, 1, 11, 0, 0, 500_000), tag="hit")]
    )
    out = range_join(left, right, ["k"], "t", "s", "e", bin_seconds=3600)
    # t falls inside [s, e): the old end-1 binning stopped the interval
    # at the 10:00 bin and silently dropped this match
    assert [r["tag"] for r in out.collect()] == ["hit"]


def test_asof_join_null_right_time_matches_nothing(spark):
    import datetime as dt

    from dataeng_azure_spotify_spark.operators.asof import asof_join

    left = spark.createDataFrame([Row(k=1, lt=dt.datetime(2024, 1, 1, 12, 0))])
    right = spark.createDataFrame(
        [Row(k=1, rt=None, payload="phantom")],
        "k long, rt timestamp, payload string",
    )
    out = asof_join(left, right, on=["k"], left_time="lt", right_time="rt")
    # a NULL-timed right row is not "the earliest ever" — it matches nothing
    assert out.collect()[0]["payload"] is None


def test_salted_ops_reject_keys_only_frames(spark):
    from dataeng_azure_spotify_spark.operators.skew import (
        salted_aggregate,
        salted_join,
    )

    keys_only = spark.createDataFrame([Row(k=1)])
    small = spark.createDataFrame([Row(k=1, v=2)])
    with pytest.raises(ValueError, match="non-key"):
        salted_join(keys_only, small, ["k"])
    with pytest.raises(ValueError, match="non-key"):
        salted_aggregate(keys_only, ["k"], [F.sum("c")], [F.count(F.lit(1)).alias("c")])


def test_hash60_column_salt_is_per_row(spark):
    from dataeng_azure_spotify_spark.functions.text import hash60

    df = spark.createDataFrame(
        [Row(tenant="a", x="same"), Row(tenant="b", x="same")]
    )
    out = df.select(hash60(F.col("x"), salt=F.col("tenant")).alias("h")).collect()
    # per-row Column salt: same payload, different tenants -> different hashes
    assert out[0]["h"] != out[1]["h"]


def test_jdbc_watermark_quotes_escaped(spark):
    from dataeng_azure_spotify_spark.sources.jdbc import JdbcTable, incremental_query

    src = JdbcTable(url="jdbc:x", schema="s", table="t", cdc_col="c")
    q = incremental_query(src, "2024' OR '1'='1")
    assert "''" in q and "' OR '" not in q.replace("''", "")
