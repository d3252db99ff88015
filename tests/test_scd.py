"""SCD1/SCD2 hard cases (SURVEY.md §7 M4): out-of-order sequence_by,
multiple changes per key in one batch, ties, null keys, re-delivery."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from dataeng_azure_spotify_spark.operators.scd import (
    CURRENT_COL,
    END_COL,
    START_COL,
    apply_scd1,
    apply_scd2,
    scd2_from_history,
)


def _t(day: int) -> dt.datetime:
    return dt.datetime(2024, 1, day)


def _rows(spark, rows):
    return spark.createDataFrame(rows)


def test_scd1_basic_upsert(spark):
    target = _rows(spark, [Row(k=1, v="a", seq=_t(1), id=1), Row(k=2, v="b", seq=_t(1), id=2)])
    updates = _rows(spark, [Row(k=1, v="a2", seq=_t(2), id=3), Row(k=3, v="c", seq=_t(1), id=4)])
    out = {r.k: r.v for r in apply_scd1(target, updates, ["k"], "seq", ["id"]).collect()}
    assert out == {1: "a2", 2: "b", 3: "c"}


def test_scd1_stale_update_ignored(spark):
    target = _rows(spark, [Row(k=1, v="new", seq=_t(5), id=1)])
    updates = _rows(spark, [Row(k=1, v="old", seq=_t(2), id=2)])
    out = apply_scd1(target, updates, ["k"], "seq", ["id"]).collect()
    assert out[0].v == "new"


def test_scd1_equal_seq_update_wins(spark):
    # Delta merge condition is s.seq >= t.seq → update replaces on tie.
    target = _rows(spark, [Row(k=1, v="t", seq=_t(3), id=9)])
    updates = _rows(spark, [Row(k=1, v="u", seq=_t(3), id=9)])
    out = apply_scd1(target, updates, ["k"], "seq", ["id"]).collect()
    assert out[0].v == "u"


def test_scd1_multi_change_batch_keeps_latest(spark):
    updates = _rows(
        spark,
        [Row(k=1, v="x1", seq=_t(1), id=1), Row(k=1, v="x3", seq=_t(3), id=3),
         Row(k=1, v="x2", seq=_t(2), id=2)],
    )
    out = apply_scd1(None, updates, ["k"], "seq", ["id"]).collect()
    assert len(out) == 1 and out[0].v == "x3"


def test_scd2_full_history_intervals(spark):
    changes = _rows(
        spark,
        [Row(k=1, v="a", seq=_t(1), id=1), Row(k=1, v="b", seq=_t(3), id=2),
         Row(k=2, v="z", seq=_t(2), id=3)],
    )
    out = scd2_from_history(changes, ["k"], "seq", ["id"]).collect()
    by = {(r.k, r.v): r for r in out}
    assert by[(1, "a")][START_COL] == _t(1) and by[(1, "a")][END_COL] == _t(3)
    assert by[(1, "b")][END_COL] is None and by[(1, "b")][CURRENT_COL]
    assert by[(2, "z")][END_COL] is None


def test_scd2_out_of_order_sequence(spark):
    # late-arriving middle version still lands in the right interval
    changes = _rows(
        spark,
        [Row(k=1, v="v3", seq=_t(5), id=3), Row(k=1, v="v1", seq=_t(1), id=1),
         Row(k=1, v="v2", seq=_t(3), id=2)],
    )
    out = {r.v: r for r in scd2_from_history(changes, ["k"], "seq", ["id"]).collect()}
    assert out["v1"][END_COL] == _t(3)
    assert out["v2"][END_COL] == _t(5)
    assert out["v3"][END_COL] is None


def test_scd2_incremental_equals_full_rebuild(spark):
    all_changes = [
        Row(k=1, v="a", seq=_t(1), id=1), Row(k=1, v="b", seq=_t(4), id=2),
        Row(k=2, v="p", seq=_t(2), id=3), Row(k=2, v="q", seq=_t(6), id=4),
        Row(k=3, v="s", seq=_t(3), id=5),
    ]
    first, second = all_changes[:3], all_changes[3:]
    target = scd2_from_history(_rows(spark, first), ["k"], "seq", ["id"])
    merged = apply_scd2(target, _rows(spark, second), ["k"], "seq", ["id"])
    full = scd2_from_history(_rows(spark, all_changes), ["k"], "seq", ["id"])
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_scd2_incremental_late_arrival_rewrites_history(spark):
    target = scd2_from_history(
        _rows(spark, [Row(k=1, v="a", seq=_t(1), id=1), Row(k=1, v="c", seq=_t(9), id=2)]),
        ["k"], "seq", ["id"],
    )
    late = _rows(spark, [Row(k=1, v="b", seq=_t(5), id=3)])
    out = {r.v: r for r in apply_scd2(target, late, ["k"], "seq", ["id"]).collect()}
    assert out["a"][END_COL] == _t(5)
    assert out["b"][END_COL] == _t(9)
    assert out["c"][END_COL] is None


def test_scd2_drop_unchanged_suppresses_noop_versions(spark):
    changes = _rows(
        spark,
        [Row(k=1, v="a", seq=_t(1), id=1), Row(k=1, v="a", seq=_t(2), id=2),
         Row(k=1, v="b", seq=_t(3), id=3)],
    )
    out = scd2_from_history(
        changes, ["k"], "seq", ["id"], drop_unchanged=True, tracked_cols=["v"]
    ).collect()
    assert len(out) == 2  # the repeated 'a' created no version
    by = {r.v: r for r in out}
    assert by["a"][END_COL] == _t(3)


def test_scd2_untouched_keys_pass_through(spark):
    target = scd2_from_history(
        _rows(spark, [Row(k=1, v="a", seq=_t(1), id=1), Row(k=2, v="z", seq=_t(1), id=2)]),
        ["k"], "seq", ["id"],
    )
    upd = _rows(spark, [Row(k=1, v="b", seq=_t(2), id=3)])
    out = apply_scd2(target, upd, ["k"], "seq", ["id"])
    k2 = [r for r in out.collect() if r.k == 2]
    assert len(k2) == 1 and k2[0].v == "z" and k2[0][CURRENT_COL]


def test_scd2_tracked_cols_ignores_untracked_churn(spark):
    """track_history_column_list parity: changes in untracked columns do
    not open new versions when drop_unchanged is on."""
    changes = _rows(
        spark,
        [
            Row(k=1, v="a", noise="x", seq=_t(1)),
            Row(k=1, v="a", noise="y", seq=_t(2)),  # only untracked col moved
            Row(k=1, v="b", noise="y", seq=_t(3)),  # tracked col moved
        ],
    )
    out = scd2_from_history(
        changes, ["k"], "seq", drop_unchanged=True, tracked_cols=["v"]
    ).orderBy("seq").collect()
    assert [r.v for r in out] == ["a", "b"]
    assert out[0][END_COL] == _t(3)  # closed by the *tracked* change


def test_cdc_flow_track_history_except(spark, tmp_path):
    from dataeng_azure_spotify_spark.streaming.gold import CdcFlow, ParquetSnapshotTable

    flow = CdcFlow(
        name="d", gold_base=str(tmp_path / "g"), keys=["k"], sequence_by="seq",
        scd_type=2, drop_unchanged=True, track_history_except=["noise"],
    )
    flow.merge_batch(spark, _rows(spark, [Row(k=1, v="a", noise="x", seq=_t(1))]))
    flow.merge_batch(spark, _rows(spark, [Row(k=1, v="a", noise="z", seq=_t(2))]))
    flow.merge_batch(spark, _rows(spark, [Row(k=1, v="b", noise="z", seq=_t(3))]))
    out = ParquetSnapshotTable(spark, str(tmp_path / "g")).read().orderBy("seq").collect()
    assert [r.v for r in out] == ["a", "b"]  # noise-only change suppressed


# ---- SCD1 gold commits in O(changes) ------------------------------------

_S1 = "k long, v string, seq timestamp, id long"


def _full_merge_history(spark, batches):
    """The full-merge reference: ``apply_scd1`` over the whole target per
    batch, then ``_diff`` of consecutive snapshots."""
    from dataeng_azure_spotify_spark.streaming.gold import ParquetSnapshotTable

    snaps, target = [], None
    for b in batches:
        merged = apply_scd1(target, spark.createDataFrame(b, _S1), ["k"], "seq", ["id"])
        target = spark.createDataFrame(
            [tuple(r) for r in merged.select("k", "v", "seq", "id").collect()], _S1
        )
        snaps.append(target)
    feed = [
        ParquetSnapshotTable._diff(snaps[v - 1], snaps[v], ["k"], v)
        for v in range(1, len(snaps))
    ]
    return snaps, feed


def _bag(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.collect())


def test_scd1_flow_commits_equal_full_merge(spark, tmp_path):
    """CdcFlow's SCD1 parquet commit (merge and diff on the touched slice
    only) yields the same snapshot and change-feed rows, version by
    version, as merging and diffing the whole table."""
    from dataeng_azure_spotify_spark.streaming.gold import CdcFlow

    b1 = [(1, "a3", _t(3), 4), (1, "a2", _t(2), 5),  # out of order in batch
          (2, "b0", _t(1), 1),                        # stale: loses to id 2
          (3, "c2", _t(1), 6),                        # equal seq: update wins
          (4, "d", _t(2), 7)]
    batches = [
        [(1, "a", _t(1), 1), (2, "b", _t(1), 2), (3, "c", _t(1), 3)],
        b1,
        b1,                                           # re-delivered batch
        [(4, "d1", _t(5), 8), (4, "d2", _t(5), 9)],   # tie broken by id
        [(None, "n1", _t(1), 10)],                    # NULL key, no expectations
        [(5, "e", _t(1), 11)],                        # NULL-key row untouched
        [(None, "n2", _t(2), 12), (2, "b", _t(1), 2)],
    ]
    flow = CdcFlow(name="f", gold_base=str(tmp_path / "g"), keys=["k"],
                   sequence_by="seq", tiebreakers=["id"], backend="parquet")
    snaps, feed = _full_merge_history(spark, batches)
    table = flow.table(spark)
    for v, b in enumerate(batches):
        flow.merge_batch(spark, spark.createDataFrame(b, _S1))
        assert _bag(table.read().select("k", "v", "seq", "id")) == _bag(snaps[v]), v
        if v:
            assert _bag(table.change_feed(["k"], v, v)) == _bag(feed[v - 1]), v
    # NULL keys match NULL-safely: no change rows for the untouched NULL
    # key, one update pair when it changes
    assert all(r.k is not None for r in table.change_feed(["k"], 5, 5).collect())
    assert {r._change_type for r in table.change_feed(["k"], 6, 6).collect()} == {
        "update_preimage", "update_postimage"}
    assert _bag(table.change_feed(["k"], 2, 2)) == {}  # re-delivery is a no-op


def test_scd1_flow_refuses_legacy_duplicate_key(spark, tmp_path):
    """An old version committed without change partials is key-validated
    once, in full, before the first O(changes) commit over it: a
    duplicate key raises before the repoint and the old version stays
    live."""
    from dataeng_azure_spotify_spark.streaming.gold import CdcFlow, ParquetSnapshotTable

    base = str(tmp_path / "g")
    v0 = [(1, "a", _t(1), 1), (1, "a-dup", _t(1), 2), (2, "b", _t(1), 3)]
    ParquetSnapshotTable(spark, base).overwrite(spark.createDataFrame(v0, _S1))
    flow = CdcFlow(name="f", gold_base=base, keys=["k"], sequence_by="seq",
                   tiebreakers=["id"], backend="parquet")
    with pytest.raises(ValueError, match="duplicate key"):
        flow.merge_batch(spark, spark.createDataFrame([(2, "b2", _t(2), 4)], _S1))
    table = flow.table(spark)
    assert len(table.history()) == 1
    assert _bag(table.read()) == _bag(spark.createDataFrame(v0, _S1))


# ---- SCD2: NULL keys, and the gold flow's keyed commit -------------------

_SCD2_COLS = ["k", "v", "seq", "id", START_COL, END_COL, CURRENT_COL]


def _current_per_key(df):
    from collections import Counter

    return Counter(r.k for r in df.collect() if r[CURRENT_COL])


def test_scd2_null_key_update_keeps_one_current_row(spark):
    """A NULL key matches a NULL key in the affected/untouched split, as
    it does in the rebuild's window: an update closes the old version
    instead of opening a second current row."""
    target = scd2_from_history(
        spark.createDataFrame([(None, "a", _t(1), 1), (1, "x", _t(1), 2)], _S1),
        ["k"], "seq", ["id"],
    )
    upd = spark.createDataFrame([(None, "b", _t(2), 3)], _S1)
    out = apply_scd2(target, upd, ["k"], "seq", ["id"])
    assert _current_per_key(out) == {None: 1, 1: 1}
    null_rows = {r.v: r for r in out.collect() if r.k is None}
    assert null_rows["a"][END_COL] == _t(2) and not null_rows["a"][CURRENT_COL]
    assert null_rows["b"][CURRENT_COL]


def test_scd2_flow_commits_equal_full_history(spark, tmp_path):
    """CdcFlow's SCD2 parquet commit (rebuild on the touched slice only)
    yields, after every batch, the table ``scd2_from_history`` builds
    from every change so far — including a NULL key without
    expectations, out-of-order and late rows, and a re-delivered batch
    (re-delivery is idempotent, so the reference takes distinct
    changes)."""
    from dataeng_azure_spotify_spark.streaming.gold import CdcFlow

    b2 = [(1, "a3", _t(3), 4), (None, "n4", _t(4), 5),
          (1, "a2", _t(2), 6)]                        # out of order in batch
    batches = [
        [(1, "a", _t(1), 1), (2, "b", _t(1), 2), (None, "n1", _t(1), 3)],
        b2,
        b2,                                           # re-delivered batch
        [(None, "n3", _t(3), 7), (3, "c", _t(1), 8)],  # late NULL-key version
        [(2, "b5", _t(5), 9)],                        # NULL key untouched
    ]
    flow = CdcFlow(name="d", gold_base=str(tmp_path / "g"), keys=["k"],
                   sequence_by="seq", scd_type=2, tiebreakers=["id"],
                   backend="parquet")
    table = flow.table(spark)
    seen: list = []
    for v, b in enumerate(batches):
        flow.merge_batch(spark, spark.createDataFrame(b, _S1))
        seen += b
        want = scd2_from_history(
            spark.createDataFrame(list(set(seen)), _S1),
            ["k"], "seq", ["id"],
        )
        got = table.read()
        assert _bag(got.select(*_SCD2_COLS)) == _bag(want.select(*_SCD2_COLS)), v
        assert set(_current_per_key(got).values()) == {1}, v
    assert len(table.history()) == len(batches)
