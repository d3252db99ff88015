"""Crash-safe run-partition compaction for the persisted artifacts.

Every admitting artifact (NearDupLabels, SemanticDedupIndex,
SubstringDupIndex; IvfIndex appends files rather than partitions)
accretes one ``run=<id>`` partition directory per admitted run. At
streaming cadence that is thousands of directories per bucket, and the
file-listing cost of every probe grows without bound — the operational
gap a real user of these artifacts hits first. ``compact()`` folds the
committed run partitions into ONE consolidated ``run=<tag>`` partition
per bucket while preserving the artifacts' exactly-once replay and
retraction semantics.

Commit protocol — :func:`fold_runs` is its one implementation, which
every run-partitioned artifact's ``compact`` calls (each step
idempotent, so a crashed ``compact`` retried with the SAME tag
converges from any intermediate state):

0. sweep the folded ``run=`` directories a crash between steps 3 and
   4 left behind, then materialize each table's live rows.
1. (artifacts with a registry) write the per-run admitted-id REGISTRY
   for the folded runs — the information replay needs once the
   row-level run attribution is gone. Idempotent dynamic overwrite
   keyed by run.
2. write the consolidated rows under ``run=<tag>`` (dynamic overwrite
   of exactly the tag's partitions). Readers IGNORE rows under an
   uncommitted compact tag, so a crash here leaves every read exact.
3. write the marker ``compactions/<tag>/`` (parquet rows naming the
   folded runs, plus the folded sets of the tags it supersedes; the
   ``_SUCCESS`` footer Spark commits last is the atomic commit point).
   From this instant readers use the tag rows and EXCLUDE the folded
   runs' rows.
4. delete the folded ``run=`` directories (idempotent rmtree) and any
   superseded markers. Readers never needed this step for correctness
   — it is what reclaims the file listings.

Retraction — :func:`retract_ids` is the one implementation of the
partition-level delete behind every artifact's ``remove`` (and the
registry purge that goes with it): count the removed ids per
partition, delete the partitions they empty FIRST, then
dynamic-overwrite the partly hit ones from one materialized anti-join.

Reader contract: every artifact read of a run-partitioned table goes
through :meth:`CompactionLog.live_run_filter`, which keeps a row iff
its run is (a) not folded by any committed compaction and (b) not an
UNCOMMITTED compact tag. Both double-reads (crash between 3 and 4)
and phantom reads (crash between 2 and 3) are thereby impossible.

Replay of a folded run: the artifact's ``admit``/``append`` consults
:meth:`CompactionLog.folded_originals` first and answers from the
registry — the same admitted rows the original attempt returned, with
no state mutation (the rows are already in the consolidated
partition). This preserves the exactly-once contract for the common
crash window (epoch admitted and sunk, checkpoint not yet committed,
artifact compacted before the stream restarts).

Single-writer contract (the same one every artifact method already
assumes): do not run ``compact`` concurrently with admissions or
removals on the same artifact. Compact between streaming runs — a
run that crashed MID-WRITE and was never redelivered before
compaction has only partial rows stored, and folding freezes that
partial state into the registry; quiesce first.
"""

from __future__ import annotations

import os
import re
from typing import Callable, NamedTuple, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dataeng_azure_spotify_spark.statefs import statefs_for

#: Reserved namespace for consolidated-partition tags. Admission
#: validators refuse run_ids with this prefix so a compact tag can
#: never collide with a live run.
COMPACT_PREFIX = "compact-"

#: artifact subdirectory holding one marker dir per committed compaction
COMPACTIONS = "compactions"


def is_compact_tag(run: str) -> bool:
    return str(run).startswith(COMPACT_PREFIX)


def validate_compact_tag(tag: str, where: str) -> None:
    """Tags name partition directories (the run_id charset rule) and
    must live in the reserved namespace so admission validators can
    keep live runs out of it."""
    if not re.fullmatch(r"[A-Za-z0-9._-]+", tag or "") or not is_compact_tag(
        tag
    ):
        raise ValueError(
            f"{where}: compaction tag must be [A-Za-z0-9._-]+ and start "
            f"with {COMPACT_PREFIX!r} (it names a partition directory "
            f"and must never collide with a live run_id); got {tag!r}"
        )


def reject_compact_namespace(run_id: str, where: str) -> None:
    """Admission-side guard: live run_ids must stay out of the compact
    namespace, or a later ``compact(tag)`` could fold them into a
    partition a replay would misattribute."""
    if is_compact_tag(run_id):
        raise ValueError(
            f"{where}: run_id {run_id!r} uses the reserved "
            f"{COMPACT_PREFIX!r} namespace (compaction tags); pick "
            "another id"
        )


class CompactionLog:
    """The committed-compaction ledger of one artifact: marker dirs
    under ``<artifact>/compactions/<tag>/`` whose parquet rows name the
    folded runs; a marker is committed iff its ``_SUCCESS`` footer
    exists (Spark writes it last)."""

    def __init__(self, spark: SparkSession, artifact_path: str) -> None:
        self.spark = spark
        self.path = os.path.join(artifact_path, COMPACTIONS)
        # control-plane IO goes through StateFS (r11): local paths stay
        # pure-POSIX; scheme'd paths (abfss://, s3a://, file://) reach
        # the session JVM's Hadoop FileSystem
        self.fs = statefs_for(artifact_path, spark)

    # -- reads ----------------------------------------------------------
    def committed(self) -> dict[str, list[str]]:
        """{tag: [folded runs]} for every committed marker.

        Markers are tiny (O(folded runs) strings) and immutable once
        their ``_SUCCESS`` exists, so they are read DRIVER-SIDE with
        pyarrow — zero Spark jobs. This runs on EVERY artifact read
        (``live_run_filter``), and the per-tag ``spark.read`` it
        replaced cost one Spark job per committed compaction per read:
        at streaming cadence with auto-compaction that grew probe
        latency linearly in fold count (measured r10,
        docs/BENCH_NOTES.md). Marker bytes come through StateFS, so
        object-store state dirs read the same way (one metadata fetch
        per marker file, still zero Spark jobs)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not self.fs.isdir(self.path):
            return {}
        out: dict[str, list[str]] = {}
        for tag in self.fs.listdir(self.path):
            d = os.path.join(self.path, tag)
            if not self.fs.isdir(d) or not self.fs.exists(
                os.path.join(d, "_SUCCESS")
            ):
                continue  # uncommitted (crashed) marker — ignored
            folded: list[str] = []
            for fn in self.fs.listdir(d):
                if not fn.endswith(".parquet") or fn.startswith("."):
                    continue
                buf = pa.BufferReader(
                    self.fs.read_bytes(os.path.join(d, fn))
                )
                col = pq.read_table(buf, columns=["folded_run"]).column(
                    "folded_run"
                )
                folded.extend(str(v) for v in col.to_pylist())
            out[tag] = folded
        return out

    def folded(self) -> set[str]:
        """Every run (original or superseded tag) folded by a committed
        compaction — rows under these must be ignored by all readers."""
        return {r for fl in self.committed().values() for r in fl}

    def folded_originals(self) -> set[str]:
        """Folded ORIGINAL run_ids (compact tags excluded) — the set
        whose replays must be answered from the registry."""
        return {r for r in self.folded() if not is_compact_tag(r)}

    def live_run_filter(self, run_col: str = "run") -> Column:
        """Keep-condition for run-partitioned artifact reads: drop rows
        folded by a committed compaction, and rows under an uncommitted
        compact tag (a crashed step-2 write). Plain ``isin`` over O(runs)
        literals — evaluated at the scan, partition-prunable."""
        committed = self.committed()
        folded = {r for fl in committed.values() for r in fl}
        c = F.col(run_col)
        keep = ~c.isin(sorted(folded)) if folded else F.lit(True)
        tags = sorted(committed)
        in_namespace = c.startswith(COMPACT_PREFIX)
        committed_tag = c.isin(tags) if tags else F.lit(False)
        return keep & (~in_namespace | committed_tag)

    # -- writes ---------------------------------------------------------
    def commit(self, tag: str, folded_runs: list[str]) -> None:
        """Write the marker (the atomic commit point — step 3)."""
        (
            self.spark.createDataFrame(
                [(r,) for r in sorted(folded_runs)], "folded_run string"
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(self.path, tag))
        )

    def drop_marker(self, tag: str) -> None:
        self.fs.rmtree(os.path.join(self.path, tag))


def _run_dirs(table_path: str, nested: bool) -> "list[tuple[str, str]]":
    """(directory, run name) of every ``run=`` directory on disk.
    ``nested`` means the run level sits under a first-level partition
    (``bucket=*/run=*`` / ``cid=*/run=*``); otherwise ``run=*`` is
    top-level."""
    fs = statefs_for(table_path)
    if not fs.isdir(table_path):
        return []
    parents = (
        [
            os.path.join(table_path, d)
            for d in fs.listdir(table_path)
            if "=" in d and fs.isdir(os.path.join(table_path, d))
        ]
        if nested
        else [table_path]
    )
    return [
        (os.path.join(parent, d), d[len("run="):])
        for parent in parents
        for d in fs.listdir(parent)
        if d.startswith("run=") and fs.isdir(os.path.join(parent, d))
    ]


def delete_folded_partitions(
    table_path: str, folded: set[str], nested: bool
) -> int:
    """Step 4: remove the folded ``run=`` directories (see
    :func:`_run_dirs` for ``nested``). Idempotent; returns directories
    removed."""
    if not folded:
        return 0
    fs = statefs_for(table_path)
    doomed = [d for d, run in _run_dirs(table_path, nested) if run in folded]
    for d in doomed:
        fs.rmtree(d)
    return len(doomed)


def count_run_partitions(table_path: str, nested: bool) -> int:
    """Observability for the before/after table: number of ``run=``
    directories currently on disk."""
    return len(_run_dirs(table_path, nested))


def distinct_run_names(table_path: str, nested: bool) -> set[str]:
    """Distinct ``run=<name>`` partition names currently on disk (one
    listing pass; names, not per-bucket dir counts)."""
    return {run for _, run in _run_dirs(table_path, nested)}


def live_run_count(
    clog: CompactionLog, paths: "Sequence[str]", nested: bool
) -> int:
    """Number of LIVE ``run=`` partition names on disk across ``paths``
    (distinct names minus committed-folded ones) — the quantity the
    :func:`maybe_autocompact` policy thresholds. StateFS listings only,
    no Spark job."""
    names = set().union(*(distinct_run_names(p, nested) for p in paths))
    return len(names - clog.folded())


def read_registry(spark: SparkSession, path: str, id_col: str) -> DataFrame:
    """(run, ``id_col``) — the admitted ids of every COMPACTED run
    (written by :func:`fold_runs` step 1; what a folded run's replay
    returns once row-level run attribution is gone)."""
    schema = f"run string, {id_col} long"
    if not statefs_for(path, spark).exists(path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def check_format_version(found: int, expected: int, what: str) -> None:
    """Refuse an artifact whose on-disk layout version this code does
    not speak, in EITHER direction: an older one is upgraded by a
    rebuild, a newer one by upgrading the engine (rebuilding would
    destroy it). ``what`` names the artifact in the message."""
    if found == expected:
        return
    direction = (
        "rebuild the index with build() to upgrade it"
        if found < expected
        else "upgrade this engine; rebuilding would destroy the newer index"
    )
    raise ValueError(
        f"{what} has artifact format v{found}; this code speaks "
        f"v{expected} — {direction}"
    )


class PartitionedTable(NamedTuple):
    """One partitioned parquet table of an artifact: its directory, a
    reader of its LIVE rows, and its partition columns (``run`` last
    for a run-partitioned table)."""

    path: str
    read: Callable[[], DataFrame]
    partition_cols: "tuple[str, ...]"

    @property
    def nested(self) -> bool:
        return len(self.partition_cols) > 1


def _overwrite_partitions(
    df: DataFrame, path: str, partition_cols: "Sequence[str]"
) -> None:
    """Dynamic overwrite: replace exactly the partitions ``df`` holds."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def fold_runs(
    clog: CompactionLog,
    tag: str,
    tables: "Sequence[PartitionedTable]",
    may_fold: "Callable[[str], bool]" = lambda run: True,
    registry: "tuple[str, str] | None" = None,
) -> dict:
    """THE compaction fold (steps 0-4 of the module docstring) of one
    artifact's run-partitioned ``tables``: every live run other than
    ``tag`` is rewritten under ``run=<tag>`` if it is an earlier
    compact tag or ``may_fold(run)`` holds; the others are reported as
    ``skipped_in_flight``. ``registry=(path, id_col)`` freezes the ids
    of each folded ORIGINAL run of the first table (step 1). Returns
    the summary dict the artifacts' ``compact`` methods report.

    Steps 0 and 4 call :func:`delete_folded_partitions` and step 3
    :meth:`CompactionLog.commit`, both looked up when they run."""

    def dirs() -> int:
        return sum(count_run_partitions(t.path, t.nested) for t in tables)

    dirs_before = dirs()
    committed = clog.committed()
    # step 0 — sweep: folded dirs a prior crash (between marker commit
    # and deletion) left behind are invisible to readers but still
    # cost listings; clean them first so a retry converges
    lingering = {r for fl in committed.values() for r in fl}
    swept = sum(
        delete_folded_partitions(t.path, lingering, nested=t.nested)
        for t in tables
    )
    folded: set[str] = set()
    in_flight: set[str] = set()
    for i, t in enumerate(tables):
        live = t.read().localCheckpoint(eager=True)  # replaces what it read
        runs = {
            str(r["run"])
            for r in live.select("run").distinct().collect()  # O(runs)
        } - {tag}
        fold = {r for r in runs if is_compact_tag(r) or may_fold(r)}
        in_flight |= runs - fold
        folded |= fold
        # step 1 — registry: compact tags being re-folded had theirs
        # frozen already, keyed by the ORIGINAL runs
        originals = sorted(r for r in fold if not is_compact_tag(r))
        if registry is not None and i == 0 and originals:
            reg_path, id_col = registry
            _overwrite_partitions(
                live.filter(F.col("run").isin(originals))
                .select("run", id_col)
                .distinct(),
                reg_path,
                ["run"],
            )
        if fold:  # step 2 — the rows under the (uncommitted) tag
            _overwrite_partitions(
                live.filter(F.col("run").isin(sorted(fold | {tag})))
                .withColumn("run", F.lit(tag)),
                t.path,
                t.partition_cols,
            )
        live.unpersist()
    summary = {
        "tag": tag,
        "folded_runs": sorted(folded),
        "skipped_in_flight": sorted(in_flight),
        "swept_dirs": swept,
        "partition_dirs_before": dirs_before,
    }
    if not folded:
        return {**summary, "partition_dirs_after": dirs(),
                "replay": tag in committed}
    # step 3 — COMMIT: the marker carries the folded runs PLUS the
    # folded sets of the superseded tags and of ``tag`` itself (so
    # markers can be dropped without resurrecting rows a lingering dir
    # still holds, and a re-fold keeps the tag's earlier replays)
    marker = set(folded)
    for r in folded | {tag}:
        marker |= set(committed.get(r, []))
    clog.commit(tag, sorted(marker))
    # step 4 — reclaim listings: folded dirs + superseded markers
    for t in tables:
        delete_folded_partitions(t.path, marker, nested=t.nested)
    for r in folded & set(committed):
        clog.drop_marker(r)
    return {**summary, "partition_dirs_after": dirs(), "replay": False}


def id_set(ids: DataFrame, name: str, cast: "str | None" = "long") -> DataFrame:
    """``ids``'s first column as the distinct one-column frame ``name``
    that :func:`retract_ids` takes — materialized, because a retraction
    reads it once per rewritten table and may replace files the
    lineage of ``ids`` reads."""
    c = F.col(ids.columns[0])
    return (
        ids.select((c if cast is None else c.cast(cast)).alias(name))
        .distinct()
        .localCheckpoint(eager=True)
    )


def retract_ids(
    table: PartitionedTable, rm: DataFrame, id_col: str, where: str
) -> "list[tuple]":
    """THE retraction of one partitioned parquet table: remove the rows
    whose ``id_col`` is in ``rm`` (one column, see :func:`id_set`),
    rewriting only the partitions that hold one. Partitions that lose
    every row are deleted FIRST — a dynamic overwrite never touches a
    partition absent from the written data — then the partly hit ones
    dynamic-overwrite from one materialized anti-join (the rewrite
    reads the files it replaces). Idempotent from every intermediate
    crash state: a retry sees only the ids still present. Raises if an
    emptied partition's literal directory is missing (a value that
    needs partition-name escaping): skipping it would leave the
    retracted rows on disk while reporting success. Returns the
    touched partitions' keys (tuples of partition values), sorted."""
    cols = list(table.partition_cols)
    rm = F.broadcast(rm.select(F.col(rm.columns[0]).alias(id_col)))
    rows = table.read()
    hit = (
        rows.join(rm, id_col, "semi")
        .groupBy(*cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n_rm"))
    )
    sizes = (
        rows.groupBy(*cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .join(hit, cols)
    )
    touched = {
        tuple(r[c] for c in cols): int(r["n"]) > int(r["n_rm"])
        for r in sizes.toLocalIterator()  # O(touched partitions)
    }
    fs = statefs_for(table.path)
    for key in sorted(k for k, partly in touched.items() if not partly):
        name = "/".join(f"{c}={v}" for c, v in zip(cols, key))
        d = os.path.join(table.path, name)
        if not fs.isdir(d):
            raise ValueError(
                f"{where}: partition {name!r} exists in the data but "
                "not at its literal directory path — a value that "
                "needs partition-name escaping "
                "(written before run_id validation). Rebuild the "
                "artifact, or rename the partition, then retry"
            )
        fs.rmtree(d)
    partial = ["§".join(map(str, k)) for k, partly in touched.items() if partly]
    if partial:
        _overwrite_partitions(
            table.read()
            .filter(F.concat_ws("§", *cols).isin(sorted(partial)))
            .join(rm, id_col, "anti")
            .localCheckpoint(eager=True),  # reads the files it replaces
            table.path,
            cols,
        )
    return sorted(touched)


def maybe_autocompact(artifact, run_id: str, max_live_runs) -> "dict | None":
    """Admission-commit compaction policy (r10): when the artifact's
    LIVE run-partition count (``artifact.live_run_count()``) exceeds
    ``max_live_runs``, fold it now under the DETERMINISTIC tag
    ``compact-auto-<run_id>`` — so at streaming cadence the per-probe
    file-listing cost stays bounded without anyone remembering to call
    ``compact()`` by hand.

    Crash-resumable by construction: a replayed epoch re-enters with
    the SAME run_id, its admit answers from run-tracked state/registry
    (no mutation), the live count is re-checked — if the crashed
    auto-fold committed, the count is back under the threshold and
    this is a no-op; if it crashed mid-protocol, the SAME tag is
    retried and ``compact``'s idempotent 4-step protocol resumes from
    wherever it stopped. The single-writer contract holds because the
    policy runs inside the admission commit path (sequential per
    stream), never concurrently with it; and a run that crashed
    MID-WRITE is repaired by its own replay BEFORE any later
    admission's policy can fold it (the policy only fires at the end
    of a successful admit).

    Returns ``compact()``'s summary dict when the fold fired, else
    None. ``max_live_runs=None`` disables the policy."""
    if max_live_runs is None:
        return None
    if int(max_live_runs) < 1:
        raise ValueError(
            f"maybe_autocompact: max_live_runs must be >= 1, got "
            f"{max_live_runs}"
        )
    if run_id is None:
        raise ValueError(
            "maybe_autocompact: run_id is required when max_live_runs "
            "is set — the auto-fold tag is derived from it so a crashed "
            "fold resumes under the replayed epoch's identical tag"
        )
    if artifact.live_run_count() <= int(max_live_runs):
        return None
    tag = f"{COMPACT_PREFIX}auto-{run_id}"
    validate_compact_tag(tag, "maybe_autocompact")
    # run_id-reuse guard: a LOW live count short-circuits the
    # crash-retry case above, so reaching a committed tag here means
    # new runs accreted since this run_id's fold committed — i.e. the
    # caller reused a run_id across epochs. Folding a NEW set under a
    # committed tag would orphan the tag's earlier folds from the
    # marker (their replays would silently take the wrong path).
    if tag in artifact._clog.committed():
        raise ValueError(
            f"maybe_autocompact: tag {tag!r} is already committed but "
            "the live-run count is above threshold again — run_id "
            f"{run_id!r} was reused across epochs; auto-compaction "
            "requires unique per-epoch run ids"
        )
    return artifact.compact(tag)
