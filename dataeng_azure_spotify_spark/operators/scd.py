"""SCD Type 1 / Type 2 CDC operators — the reference's centerpiece
(SURVEY.md §2.7).

Parity targets (all five gold flows use the same API):

- SCD1 upsert: ``create_auto_cdc_flow(target='fact_stream', keys=
  ['stream_id'], sequence_by='stream_timestamp', stored_as_scd_type=1)``
  — reference ``.../transformations/FactStream.py:93-103``; rationale
  (late/corrected events overwrite by sequence) :15-25.
- SCD2 history: same API with ``stored_as_scd_type=2`` producing
  ``__START_AT``/``__END_AT`` validity columns — ``DimUser.py:115-125``,
  ``DimArtist.py:96-106``, ``DimTrack.py:84-94``, ``DimDate.py:12-22``.
  ``track_history_column_list`` is None everywhere → change detection on
  all columns (``DimArtist.py:102-103``).

Spark-first design: the core is pure DataFrame algebra (window functions
over the key partitions), so Catalyst plans it as ONE shuffle on the
business key followed by per-partition sorting — no driver-side loops.
At scale:

- The gold CDC flow hands either merge only the touched slice of the
  live snapshot: ``ParquetSnapshotTable.merge_keys`` splits it by the
  batch's keys with a NULL-safe broadcast semi/anti join
  (:func:`_match_keys`, no shuffle; a NULL key matches a NULL key, as
  in the window's ``partitionBy`` and the Delta MERGE's ``<=>``). A
  micro-batch of K changed keys costs O(K) rows (O(K·versions) for
  SCD2), not the table; the untouched rest is still copied into the
  new parquet snapshot.
- SCD1 merge shuffles ``target ∪ updates`` on the key. ``apply_scd2``
  over a whole target makes the same split itself
  (:func:`_merge_touched`), so it still rebuilds only the *affected*
  keys' histories; the gold flow, whose slice is already split, calls
  the rebuild (:func:`scd2_rebuild`) directly.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

START_COL = "__START_AT"
END_COL = "__END_AT"
CURRENT_COL = "__IS_CURRENT"


def _null_safe_eq(left: "list[str]", right: "list[str]"):
    """``left[i] <=> right[i]`` for every i, ANDed: the join condition
    under which a NULL key matches a NULL key."""
    return reduce(
        operator.and_,
        [F.col(a).eqNullSafe(F.col(b)) for a, b in zip(left, right)],
    )


def _match_keys(df: DataFrame, touched: DataFrame, keys: "list[str]", how: str) -> DataFrame:
    """``df``'s rows whose ``keys`` do (``left_semi``) or do not
    (``left_anti``) occur in ``touched``, matched NULL-safely through a
    broadcast of ``touched``'s keys (duplicates there are harmless to a
    semi/anti join)."""
    probe = touched.select(*[F.col(k).alias(f"__t_{k}") for k in keys])
    return df.join(
        F.broadcast(probe),
        _null_safe_eq(keys, [f"__t_{k}" for k in keys]),
        how,
    )


def _merge_touched(
    old: "DataFrame | None",
    touched: DataFrame,
    keys: "list[str]",
    merge: "Callable[[DataFrame | None], DataFrame]",
) -> DataFrame:
    """``old``'s rows whose ``keys`` are not in ``touched``, plus
    ``merge`` of the rows whose keys are (``merge(None)`` when there is
    no ``old``): the keyed-merge body of :func:`apply_scd2` and of both
    gold backends' ``merge_keys``."""
    if old is None:
        return merge(None)
    rest = _match_keys(old, touched, keys, "left_anti")
    return rest.unionByName(merge(_match_keys(old, touched, keys, "left_semi")))


def _order_cols(sequence_by: str, tiebreakers: list[str] | None, desc: bool):
    cols = [F.col(sequence_by)] + [F.col(t) for t in (tiebreakers or [])]
    return [c.desc() for c in cols] if desc else [c.asc() for c in cols]


def apply_scd1(
    target: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    sequence_by: str,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """SCD Type 1 upsert: latest-truth overwrite per business key.

    Merge semantics match Delta ``whenMatchedUpdateAll(condition=
    "s.seq >= t.seq")`` (SURVEY.md §2.7 C1): an update with an equal or
    newer ``sequence_by`` replaces the target row; stale/late updates are
    ignored; unseen keys insert. Implemented as union + row_number so a
    whole micro-batch with multiple changes per key collapses in one pass.

    ``tiebreakers`` break exact sequence ties deterministically *within* a
    side; across sides an update beats a target row with the same
    (sequence, tiebreakers) — the ``>=`` in the merge condition.
    """
    upd = updates.withColumn("__src", F.lit(1))
    if target is None:
        unioned = upd
    else:
        unioned = target.withColumn("__src", F.lit(0)).unionByName(upd)
    order = _order_cols(sequence_by, (tiebreakers or []) + ["__src"], desc=True)
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def scd2_from_history(
    changes: DataFrame,
    keys: list[str],
    sequence_by: str,
    tiebreakers: list[str] | None = None,
    drop_unchanged: bool = False,
    tracked_cols: list[str] | None = None,
) -> DataFrame:
    """Build a full SCD2 table from a pile of change rows.

    Each change row becomes one version: ``__START_AT`` = its sequence
    value, ``__END_AT`` = the next version's sequence for the same key
    (``lead()``), NULL for the current version; ``__IS_CURRENT`` flags the
    open row. This is exactly the validity-interval semantics of
    ``create_auto_cdc_flow(..., stored_as_scd_type=2)``.

    ``drop_unchanged=True`` reproduces DLT's change detection: a row whose
    tracked columns (default: all non-key, non-sequence columns) equal the
    previous version's is suppressed — no spurious version.

    One shuffle on ``keys``; per-key ordering by (sequence, tiebreakers)
    must be total for deterministic output.
    """
    order = _order_cols(sequence_by, tiebreakers, desc=False)
    w = Window.partitionBy(*keys).orderBy(*order)

    df = changes
    if drop_unchanged:
        tracked = tracked_cols or [
            c for c in df.columns if c not in set(keys) | {sequence_by}
        ]
        prev = F.lag(F.struct(*tracked)).over(w)
        df = (
            df.withColumn("__same", prev.eqNullSafe(F.struct(*tracked)))
            .filter(~F.coalesce(F.col("__same"), F.lit(False)))
            .drop("__same")
        )
        # recompute the window over the surviving rows
        w = Window.partitionBy(*keys).orderBy(*order)

    out = df.withColumn(START_COL, F.col(sequence_by)).withColumn(
        END_COL, F.lead(F.col(sequence_by)).over(w)
    )
    return out.withColumn(CURRENT_COL, F.col(END_COL).isNull())


def apply_scd2(
    target: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    sequence_by: str,
    tiebreakers: list[str] | None = None,
    drop_unchanged: bool = False,
    tracked_cols: list[str] | None = None,
) -> DataFrame:
    """Incremental SCD2 merge: fold a batch of updates into an existing
    SCD2 target (the ``foreachBatch`` body of the gold CDC flow).

    Only the keys present in ``updates`` are touched: the target splits
    NULL-safely into affected (left-semi) and untouched (left-anti)
    halves (:func:`_match_keys`), the affected histories are rebuilt
    from their underlying change rows plus the new updates (correct
    under out-of-order ``sequence_by`` and multi-change batches —
    SURVEY.md §7 M4 hard cases), and the untouched half passes through
    unchanged. A micro-batch touching K keys costs
    O(K · versions-per-key), independent of dimension size.
    """
    return _merge_touched(
        target,
        updates,
        keys,
        lambda affected: scd2_rebuild(
            affected, updates, keys, sequence_by, tiebreakers,
            drop_unchanged, tracked_cols,
        ),
    )


def scd2_rebuild(
    affected: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    sequence_by: str,
    tiebreakers: list[str] | None = None,
    drop_unchanged: bool = False,
    tracked_cols: list[str] | None = None,
) -> DataFrame:
    """The SCD2 histories of ``updates``' keys, rebuilt from
    ``affected`` (the target rows of those keys only, or None for an
    empty target) plus the updates — the ``merge`` that
    :func:`apply_scd2` and the gold flow's ``merge_keys`` hand the
    touched slice."""
    if affected is None:
        return scd2_from_history(
            updates, keys, sequence_by, tiebreakers, drop_unchanged, tracked_cols
        )
    # Each existing SCD2 row *is* the change row that opened it.
    change_cols = [c for c in affected.columns if c not in (START_COL, END_COL, CURRENT_COL)]
    prior_changes = affected.select(*change_cols)
    # distinct() makes the merge idempotent: a re-delivered row identical to
    # an existing version collapses instead of opening a spurious duplicate
    # (Delta MERGE's matched-row no-op equivalent)
    all_changes = prior_changes.unionByName(updates.select(*change_cols)).distinct()
    return scd2_from_history(
        all_changes, keys, sequence_by, tiebreakers, drop_unchanged, tracked_cols
    )
