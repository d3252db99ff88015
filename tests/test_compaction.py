"""Artifact compaction: fold run partitions into one consolidated
partition while preserving probe results byte-identically, replay of
folded runs, retraction, and crash-convergence at every commit window
(see operators/compaction.py for the protocol)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataeng_azure_spotify_spark.operators import compaction as C

# Most tests here are slow (multi-round parquet write/rewrite e2e) and
# marked one by one; one crash test per artifact and the retraction
# unit test run in the default tier, so every run checks the protocol.
slow = pytest.mark.slow


def _run_dirs(table_path: str, nested: bool = True) -> int:
    return C.count_run_partitions(table_path, nested=nested)


# --------------------------------------------------------------------------
# retract_ids (the shared partition-level retraction)
# --------------------------------------------------------------------------


def test_retract_ids_rewrites_partial_drops_emptied_and_refuses_escaped(
    spark, tmp_path
):
    """A partly hit partition is rewritten without the ids, an emptied
    one is deleted, and an emptied partition whose literal directory is
    missing (a value Spark escapes in the path) raises instead of
    reporting success with the rows still on disk."""
    schema = "id long, p int, run string"
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 0, "a"), (2, 0, "a"), (3, 1, "a"), (4, 0, "b"), (5, 0, "x:y")],
        schema,
    ).write.partitionBy("p", "run").parquet(path)
    table = C.PartitionedTable(
        path, lambda: spark.read.schema(schema).parquet(path), ("p", "run")
    )

    def ids(*xs):
        return C.id_set(spark.createDataFrame([(x,) for x in xs], "x long"), "x")

    assert C.retract_ids(table, ids(1, 3, 99), "id", "t") == [(0, "a"), (1, "a")]
    assert {r.id for r in table.read().collect()} == {2, 4, 5}
    assert not os.path.exists(os.path.join(path, "p=1", "run=a"))
    assert os.path.isdir(os.path.join(path, "p=0", "run=a"))
    assert C.retract_ids(table, ids(99), "id", "t") == []

    with pytest.raises(ValueError, match="literal directory"):
        C.retract_ids(table, ids(5), "id", "t")
    assert {r.id for r in table.read().collect()} == {2, 4, 5}


# --------------------------------------------------------------------------
# SubstringDupIndex
# --------------------------------------------------------------------------

UNIQ = [
    f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g w{i}h" for i in range(8)
]


def _substring_state(spark, tmp_path):
    """Index with 4 admitted runs (one rejection in e0) + a probe batch."""
    from dataeng_azure_spotify_spark.operators.substring import (
        IncrementalSubstringDedup,
    )

    W = "alpha bravo charlie delta echo foxtrot golf hotel"
    adm = IncrementalSubstringDedup(
        spark, str(tmp_path / "sub"), max_dup_frac=0.5, k=8, num_buckets=2
    )
    batches = {
        "e0": [(1, f"{W} india {W}"), (2, UNIQ[0]), (3, UNIQ[1])],
        "e1": [(10, UNIQ[0]), (11, UNIQ[2])],  # 10 rejected vs store
        "e2": [(20, UNIQ[3])],
        "e3": [(30, UNIQ[4]), (31, UNIQ[5])],
    }
    admitted = {}
    dfs = {}
    for rid, rows in batches.items():
        dfs[rid] = spark.createDataFrame(rows, "doc_id long, text string")
        admitted[rid] = {
            r.doc_id for r in adm.admit(dfs[rid], run_id=rid).collect()
        }
    assert admitted["e0"] == {2, 3} and admitted["e1"] == {11}
    probe = spark.createDataFrame(
        [(90, UNIQ[2]), (91, UNIQ[6])], "doc_id long, text string"
    )
    return adm.index, dfs, admitted, probe


def _grams_snapshot(idx):
    return {
        (r.g, r.doc, r.c) for r in idx.grams().select("g", "doc", "c").collect()
    }


def _coverage_snapshot(idx, probe):
    return {
        tuple(r) for r in idx.coverage(probe, "probe-run").collect()
    }


@slow
def test_substring_compact_probe_identical(spark, tmp_path):
    """compact folds every run into one partition per bucket; gram rows,
    coverage, and admission decisions are byte-identical; the dir count
    collapses; folded-run replay answers from the registry."""
    idx, dfs, admitted, probe = _substring_state(spark, tmp_path)
    before_rows = _grams_snapshot(idx)
    before_cov = _coverage_snapshot(idx, probe)
    dirs_before = _run_dirs(idx._grams_path)
    assert dirs_before >= 4  # several runs × touched buckets

    summary = idx.compact("compact-1")
    # the incremental bootstrap's build() wrote no gram partitions, so
    # only the four admitted epochs fold
    assert set(summary["folded_runs"]) == {"e0", "e1", "e2", "e3"}
    assert summary["partition_dirs_after"] <= 2  # ≤ one per touched bucket
    assert summary["partition_dirs_after"] < dirs_before

    assert _grams_snapshot(idx) == before_rows
    assert _coverage_snapshot(idx, probe) == before_cov
    runs_left = {r.run for r in idx.grams().select("run").distinct().collect()}
    assert runs_left == {"compact-1"}

    # folded-run replay: the exactly-once crash window (epoch admitted,
    # checkpoint not committed, compaction ran before restart)
    for rid in ("e0", "e1", "e3"):
        replay = {
            r.doc_id for r in idx.admit_batch(dfs[rid], rid).collect()
        }
        assert replay == admitted[rid], rid
    # and it mutated nothing
    assert _grams_snapshot(idx) == before_rows

    # no-op re-invocation (crash-after-commit retry path)
    again = idx.compact("compact-1")
    assert again["folded_runs"] == [] and again["replay"]


@slow
def test_substring_compact_then_admit_then_recompact(spark, tmp_path):
    """Post-compact admissions land normally; a second compact folds the
    previous tag + the new runs; replays of runs folded by EITHER
    compaction still answer exactly; superseded markers are dropped."""
    idx, dfs, admitted, probe = _substring_state(spark, tmp_path)
    idx.compact("compact-1")

    b4 = spark.createDataFrame(
        [(40, UNIQ[6]), (41, UNIQ[1])], "doc_id long, text string"
    )
    got4 = {r.doc_id for r in idx.admit_batch(b4, "e4").collect()}
    assert got4 == {40}  # 41 duplicates folded doc 3's text
    before_rows = _grams_snapshot(idx)

    s2 = idx.compact("compact-2")
    assert set(s2["folded_runs"]) == {"compact-1", "e4"}
    assert _grams_snapshot(idx) == before_rows
    assert not os.path.exists(os.path.join(idx._clog.path, "compact-1"))

    for rid in ("e0", "e1"):
        replay = {r.doc_id for r in idx.admit_batch(dfs[rid], rid).collect()}
        assert replay == admitted[rid], rid
    assert {r.doc_id for r in idx.admit_batch(b4, "e4").collect()} == {40}


@slow
def test_substring_refold_into_committed_tag_keeps_its_replays(spark, tmp_path):
    """Folding new runs into an already committed tag keeps the tag's
    earlier folds in its marker: their replays still answer from the
    registry instead of re-admitting rows the tag already holds."""
    idx, dfs, admitted, probe = _substring_state(spark, tmp_path)
    idx.compact("compact-1")
    b4 = spark.createDataFrame([(40, UNIQ[6])], "doc_id long, text string")
    assert {r.doc_id for r in idx.admit_batch(b4, "e4").collect()} == {40}
    before_rows = _grams_snapshot(idx)

    s = idx.compact("compact-1")
    assert s["folded_runs"] == ["e4"]
    assert {"e0", "e1", "e2", "e3", "e4"} <= idx._clog.folded_originals()
    for rid in ("e0", "e1"):
        replay = {r.doc_id for r in idx.admit_batch(dfs[rid], rid).collect()}
        assert replay == admitted[rid], rid
    assert _grams_snapshot(idx) == before_rows


@slow
def test_substring_compact_remove_interplay(spark, tmp_path):
    """remove() after compact retracts from the consolidated partition
    AND the registry: the doc's twin becomes admissible and a folded-run
    replay no longer returns the removed doc."""
    idx, dfs, admitted, probe = _substring_state(spark, tmp_path)
    idx.compact("compact-1")

    assert idx.remove(spark.createDataFrame([(3,)], "doc_id long")) > 0
    assert 3 not in {r.doc for r in idx.grams().select("doc").collect()}
    replay0 = {r.doc_id for r in idx.admit_batch(dfs["e0"], "e0").collect()}
    assert replay0 == {2}  # 3 retracted, not resurrected by the registry
    twin = spark.createDataFrame([(50, UNIQ[1])], "doc_id long, text string")
    assert {r.doc_id for r in idx.admit_batch(twin, "e5").collect()} == {50}


def test_substring_compact_crash_windows(spark, tmp_path, monkeypatch):
    """Every commit window of a crashed compact leaves reads exact, and
    a same-tag retry converges to the clean end state."""
    idx, dfs, admitted, probe = _substring_state(spark, tmp_path)
    before_rows = _grams_snapshot(idx)
    before_cov = _coverage_snapshot(idx, probe)

    # -- crash AFTER step 2 (consolidated rows written, marker not):
    real_commit = C.CompactionLog.commit

    def boom(self, tag, folded):
        raise RuntimeError("crash before marker commit")

    monkeypatch.setattr(C.CompactionLog, "commit", boom)
    with pytest.raises(RuntimeError):
        idx.compact("compact-1")
    monkeypatch.setattr(C.CompactionLog, "commit", real_commit)
    # uncommitted tag rows are invisible; nothing folded
    assert _grams_snapshot(idx) == before_rows
    assert _coverage_snapshot(idx, probe) == before_cov
    assert "compact-1" not in {
        r.run for r in idx.grams().select("run").distinct().collect()
    }

    # -- retry crashes AFTER step 3 (marker committed, dirs not deleted):
    real_delete = C.delete_folded_partitions
    calls = {"n": 0}

    def boom_delete(table_path, folded, nested):
        if folded:  # the post-commit deletion (sweep sees empty set here)
            raise RuntimeError("crash before dir deletion")
        calls["n"] += 1
        return real_delete(table_path, folded, nested)

    monkeypatch.setattr(C, "delete_folded_partitions", boom_delete)
    with pytest.raises(RuntimeError):
        idx.compact("compact-1")
    monkeypatch.setattr(C, "delete_folded_partitions", real_delete)
    # marker committed: reads exact despite lingering folded dirs
    assert _grams_snapshot(idx) == before_rows
    assert _coverage_snapshot(idx, probe) == before_cov
    assert _run_dirs(idx._grams_path) > 2  # dirs still there...
    final = idx.compact("compact-1")  # ...until the retry sweeps them
    assert final["folded_runs"] == [] and final["swept_dirs"] > 0
    assert _run_dirs(idx._grams_path) <= 2
    assert _grams_snapshot(idx) == before_rows
    assert _coverage_snapshot(idx, probe) == before_cov
    # replay still answered from the registry after the crashy history
    replay = {r.doc_id for r in idx.admit_batch(dfs["e1"], "e1").collect()}
    assert replay == admitted["e1"]


@slow
def test_substring_compact_guards(spark, tmp_path):
    """Tag namespace enforced on both sides: compact refuses plain run
    ids, admission refuses ids in the compact namespace."""
    idx, dfs, admitted, probe = _substring_state(spark, tmp_path)
    with pytest.raises(ValueError, match="compact-"):
        idx.compact("e9")
    with pytest.raises(ValueError, match="reserved"):
        idx.admit_batch(dfs["e1"], "compact-sneaky")


# --------------------------------------------------------------------------
# SemanticDedupIndex
# --------------------------------------------------------------------------


def _sem_vec(i, a=1.0, b=0.0):
    return [a, b, float(i % 3) * 1e-4, 0.0]


def _semantic_state(spark, tmp_path):
    """Admitter with 3 epochs of ascending-id vectors in two far-apart
    directions; e1 contains a near-twin of an e0 keeper (pruned)."""
    from dataeng_azure_spotify_spark.operators.similarity import (
        IncrementalSemanticDedup,
    )

    schema = "vec_id long, embedding array<float>"
    adm = IncrementalSemanticDedup(
        spark, str(tmp_path / "sem"), threshold=0.95, k=2, iters=1
    )
    batches = {
        "e0": [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "e1": [(10, [0.9999, 0.0001, 0.0, 0.0]), (11, [0.0, 0.0, 1.0, 0.0])],
        "e2": [(20, [0.0, 0.0, 0.0, 1.0])],
    }
    admitted, dfs = {}, {}
    for rid, rows in batches.items():
        dfs[rid] = spark.createDataFrame(rows, schema)
        admitted[rid] = {
            r.vec_id for r in adm.admit(dfs[rid], run_id=rid).collect()
        }
    assert admitted["e0"] == {1, 2}
    assert admitted["e1"] == {11}  # 10 is a twin of keeper 1
    assert admitted["e2"] == {20}
    return adm.index, dfs, admitted


def _keepers_snapshot(idx):
    return {
        (r.vid, r.cid, tuple(r.vec))
        for r in idx.keepers().select("vid", "cid", "vec").collect()
    }


@slow
def test_semantic_compact_probe_identical(spark, tmp_path):
    """Keeper rows identical through compact; folded-run replays (incl.
    the run_id-attributed BOOTSTRAP epoch) answer from the registry;
    a twin of a folded keeper still prunes; fresh admissions land."""
    idx, dfs, admitted = _semantic_state(spark, tmp_path)
    before = _keepers_snapshot(idx)
    dirs_before = _run_dirs(idx._keepers_path)

    s = idx.compact("compact-1")
    assert set(s["folded_runs"]) == {"e0", "e1", "e2"}
    assert s["partition_dirs_after"] < dirs_before
    assert _keepers_snapshot(idx) == before
    assert {
        r.run for r in idx.keepers().select("run").distinct().collect()
    } == {"compact-1"}

    for rid in ("e0", "e1", "e2"):  # incl. the bootstrap epoch
        replay = {
            r.vec_id for r in idx.admit_batch(dfs[rid], rid).collect()
        }
        assert replay == admitted[rid], rid
    assert _keepers_snapshot(idx) == before

    # semantics against the consolidated keepers: twin pruned, novel kept
    schema = "vec_id long, embedding array<float>"
    twin = spark.createDataFrame([(30, [0.99995, 0.0, 0.0, 0.0])], schema)
    assert idx.admit_batch(twin, "e3").count() == 0
    novel = spark.createDataFrame([(31, [0.7, 0.0, 0.0, -0.7])], schema)
    assert {r.vec_id for r in idx.admit_batch(novel, "e4").collect()} == {31}

    # second compact folds the new run + previous tag; replays persist
    s2 = idx.compact("compact-2")
    assert set(s2["folded_runs"]) == {"compact-1", "e4"}
    assert {
        r.vec_id for r in idx.admit_batch(dfs["e1"], "e1").collect()
    } == {11}


def test_semantic_compact_remove_and_crash(spark, tmp_path, monkeypatch):
    """remove() after compact retracts keeper + registry rows (folded
    replay no longer returns it; its twin becomes admissible); a crash
    between marker commit and dir deletion leaves reads exact and the
    same-tag retry sweeps."""
    idx, dfs, admitted = _semantic_state(spark, tmp_path)
    before = _keepers_snapshot(idx)

    real_delete = C.delete_folded_partitions

    def boom_delete(table_path, folded, nested):
        if folded:
            raise RuntimeError("crash before dir deletion")
        return real_delete(table_path, folded, nested)

    monkeypatch.setattr(C, "delete_folded_partitions", boom_delete)
    with pytest.raises(RuntimeError):
        idx.compact("compact-1")
    monkeypatch.setattr(C, "delete_folded_partitions", real_delete)
    assert _keepers_snapshot(idx) == before  # no doubles, no phantoms
    final = idx.compact("compact-1")
    assert final["folded_runs"] == [] and final["swept_dirs"] > 0
    assert _keepers_snapshot(idx) == before

    # retraction: keeper 1 (kept in folded e0) freed
    assert idx.remove(spark.createDataFrame([(1,)], "vid long")) != []
    replay0 = {r.vec_id for r in idx.admit_batch(dfs["e0"], "e0").collect()}
    assert replay0 == {2}  # registry purged with the keeper row
    schema = "vec_id long, embedding array<float>"
    twin = spark.createDataFrame([(40, [0.99995, 0.0, 0.0, 0.0])], schema)
    assert {r.vec_id for r in idx.admit_batch(twin, "e5").collect()} == {40}


# --------------------------------------------------------------------------
# NearDupLabels
# --------------------------------------------------------------------------


def _ndl_state(spark, tmp_path):
    """Labels index: build + two committed appends (near-dup texts so
    clusters span runs)."""
    from pyspark.sql import Row

    from dataeng_azure_spotify_spark.operators.cluster_index import (
        NearDupLabels,
    )

    base_texts = [
        "the quick brown fox jumps over the lazy dog tonight",
        "an entirely different sentence about database compaction",
        "completely unrelated words regarding spark partitions here",
    ]
    base = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(base_texts)]
    )
    idx = NearDupLabels.build(base, str(tmp_path / "ndl"), threshold=0.3)
    b1 = spark.createDataFrame(
        [Row(doc_id=10, text=base_texts[0] + " ok")]  # near-dup of doc 0
    )
    b2 = spark.createDataFrame(
        [Row(doc_id=20, text="fresh corpus text with novel shingle content")]
    )
    idx.append(b1, run_id="e1")
    idx.append(b2, run_id="e2")
    return idx, b1, b2


def _labels_map(idx):
    return {r.doc_id: r.cluster_id for r in idx.labels().collect()}


@slow
def test_ndl_compact_probe_identical(spark, tmp_path):
    """Shingle/prefix partitions fold; labels identical; a post-compact
    append still finds candidates stored by FOLDED runs (the prefix
    index keeps working); committed-run replay still short-circuits on
    the preserved runs registry."""
    from pyspark.sql import Row

    idx, b1, b2 = _ndl_state(spark, tmp_path)
    before = _labels_map(idx)
    dirs_before = _run_dirs(idx._shingles_path, nested=False) + _run_dirs(
        idx._prefix_path, nested=False
    )
    assert dirs_before == 6  # (build + e1 + e2) × 2 tables

    s = idx.compact("compact-1")
    assert set(s["folded_runs"]) == {"build", "e1", "e2"}
    assert s["partition_dirs_after"] == 2 < dirs_before
    assert s["skipped_in_flight"] == []
    assert _labels_map(idx) == before
    assert set(idx.runs()) == {"build", "e1", "e2"}  # registry preserved

    # committed-replay no-op via the registry
    replay = {r.doc_id for r in idx.append(b1, run_id="e1").collect()}
    assert replay == {10} and _labels_map(idx) == before

    # candidate generation against folded state: a near-dup of doc 10
    # (admitted by folded e1) must land in its cluster
    b3 = spark.createDataFrame(
        [Row(doc_id=30, text="the quick brown fox jumps over the lazy dog tonight ok")]
    )
    idx.append(b3, run_id="e3")
    after = _labels_map(idx)
    assert after[30] == after[10] == after[0]

    # recompact folds the new run + the previous tag
    s2 = idx.compact("compact-2")
    assert set(s2["folded_runs"]) == {"compact-1", "e3"}
    assert _labels_map(idx) == after


def test_ndl_compact_skips_in_flight_crashed_run(spark, tmp_path, monkeypatch):
    """A crashed (uncommitted) append's run dirs are NOT folded — its
    replay still recomputes against its own partitions and converges to
    the same labels as the crash-free path."""
    from pyspark.sql import Row

    from dataeng_azure_spotify_spark.operators.cluster_index import (
        NearDupLabels,
    )

    idx, b1, b2 = _ndl_state(spark, tmp_path)
    b3 = spark.createDataFrame(
        [Row(doc_id=40, text="novel crashed-epoch words never seen before")]
    )
    # crash e3 after its run partitions (and labels) land but before the
    # run marker commits — the canonical in-flight state
    real = NearDupLabels._mark_run

    def boom(self, run_id):
        if run_id == "e3":
            raise RuntimeError("crash before run marker")
        return real(self, run_id)

    monkeypatch.setattr(NearDupLabels, "_mark_run", boom)
    with pytest.raises(RuntimeError):
        idx.append(b3, run_id="e3")
    monkeypatch.setattr(NearDupLabels, "_mark_run", real)

    s = idx.compact("compact-1")
    assert "e3" in s["skipped_in_flight"]
    assert "e3" not in s["folded_runs"]
    # the crashed epoch replays fine after compaction
    got = {r.doc_id for r in idx.append(b3, run_id="e3").collect()}
    assert got == {40}
    assert 40 in _labels_map(idx)


@slow
def test_ndl_refold_into_committed_tag_keeps_its_rows(spark, tmp_path):
    """A second fold into an already committed tag rewrites the tag's
    partition with its earlier rows plus the new run's, so documents
    folded the first time stay findable by later appends."""
    from pyspark.sql import Row

    from dataeng_azure_spotify_spark.operators.cluster_index import (
        PREFIX_SCHEMA,
    )

    idx, b1, b2 = _ndl_state(spark, tmp_path)
    idx.compact("compact-1")
    idx.append(
        spark.createDataFrame([Row(doc_id=30, text="yet another novel text")]),
        run_id="e3",
    )
    before = _labels_map(idx)
    s = idx.compact("compact-1")
    assert s["folded_runs"] == ["e3"]
    assert _labels_map(idx) == before
    stored = {
        r.doc
        for r in idx._read_or_empty(idx._prefix_path, PREFIX_SCHEMA).collect()
    }
    assert stored == {0, 1, 2, 10, 20, 30}
    twin = spark.createDataFrame(
        [Row(doc_id=50, text="fresh corpus text with novel shingle content")]
    )
    idx.append(twin, run_id="e4")
    final = _labels_map(idx)
    assert final[50] == final[20]


@slow
def test_ndl_compact_remove_after_fold(spark, tmp_path):
    """remove() keeps working on consolidated partitions: the witness
    doc's shingle/prefix rows are purged from the tag partition and the
    cluster re-converges without it."""
    idx, b1, b2 = _ndl_state(spark, tmp_path)
    idx.compact("compact-1")
    before = _labels_map(idx)
    summary = idx.remove(
        idx.spark.createDataFrame([(10,)], "doc_id long"), run_id="rm1"
    )
    assert summary["removed_labels"] == 1
    after = _labels_map(idx)
    assert 10 not in after and set(after) == set(before) - {10}
    # purged from the consolidated prefix too: a future twin of doc 10's
    # text cannot link to the removed doc (but still links to doc 0)
    from pyspark.sql import Row

    twin = idx.spark.createDataFrame(
        [Row(doc_id=50, text="the quick brown fox jumps over the lazy dog tonight ok")]
    )
    idx.append(twin, run_id="e9")
    final = _labels_map(idx)
    assert final[50] == final[0]


# --------------------------------------------------------------------------
# IvfIndex
# --------------------------------------------------------------------------


@slow
def test_ivf_compact_files(spark, tmp_path):
    """File-level compaction: appended per-run files collapse to one per
    bucket; rows (incl. run_id attribution) and probe results are
    byte-identical; remove still works."""
    from dataeng_azure_spotify_spark.operators.similarity import IvfIndex

    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(
        [(i, [float(i % 4 == 0), float(i % 4 == 1), float(i % 4 == 2),
              float(i % 4 == 3)]) for i in range(16)],
        schema,
    )
    idx = IvfIndex.build(base, str(tmp_path / "ivf"), num_centroids=4,
                         run_id="r0")
    for e in range(1, 4):  # three appending runs -> files accrete
        batch = spark.createDataFrame(
            [(100 * e + i,
              [float(i % 4 == 0), float(i % 4 == 1), float(i % 4 == 2),
               float(i % 4 == 3)]) for i in range(8)],
            schema,
        )
        idx.append(batch, run_id=f"r{e}")

    rows_before = {
        (r.vec_id, r.run_id, r.centroid_id)
        for r in idx.buckets().select("vec_id", "run_id", "centroid_id").collect()
    }
    probes = base.filter(F.col("vec_id") < 2)
    q_before = {
        tuple(r) for r in idx.query(probes, k=3, nprobe=2).collect()
    }

    s = idx.compact()
    assert s["files_after"] < s["files_before"]
    assert s["files_after"] <= 4  # one per bucket dir
    assert {
        (r.vec_id, r.run_id, r.centroid_id)
        for r in idx.buckets().select("vec_id", "run_id", "centroid_id").collect()
    } == rows_before
    assert {
        tuple(r) for r in idx.query(probes, k=3, nprobe=2).collect()
    } == q_before

    assert idx.remove(spark.createDataFrame([(100,)], "vec_id long")) != []
    assert idx.buckets().filter(F.col("vec_id") == 100).count() == 0


@slow
def test_ivf_compact_with_pq_codes_leg(spark, tmp_path):
    """The r10 codes leg rides the SAME bucket rows, so compaction,
    removal and run attribution carry it with zero new protocol:
    appended coded runs fold to one file per bucket with row-identical
    (id, run_id, codes), ADC probes are byte-identical across the
    fold, and remove-after-compact retracts the coded row."""
    from dataeng_azure_spotify_spark.operators.similarity import IvfIndex

    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(
        [(i, [float(i % 4 == 0), float(i % 4 == 1), float(i % 4 == 2),
              float(i % 4 == 3)]) for i in range(16)],
        schema,
    )
    idx = IvfIndex.build(base, str(tmp_path / "ivfpq"), num_centroids=4,
                         run_id="r0")
    idx.add_codes(m=2, nbits=2, iters=3)
    for e in range(1, 4):
        batch = spark.createDataFrame(
            [(100 * e + i,
              [float(i % 4 == 0), float(i % 4 == 1), float(i % 4 == 2),
               float(i % 4 == 3)]) for i in range(8)],
            schema,
        )
        idx.append(batch, run_id=f"r{e}")
    rows_before = {
        (r.vec_id, r.run_id, r.centroid_id, tuple(r.codes))
        for r in idx.buckets()
        .select("vec_id", "run_id", "centroid_id", "codes").collect()
    }
    assert all(c is not None for (_v, _r, _c, c) in rows_before)
    probes = base.filter(F.col("vec_id") < 2)
    q_before = sorted(
        map(tuple, idx.query_adc(probes, k=3, nprobe=2, rerank=6).collect())
    )

    s = idx.compact()
    assert s["files_after"] < s["files_before"]
    assert {
        (r.vec_id, r.run_id, r.centroid_id, tuple(r.codes))
        for r in idx.buckets()
        .select("vec_id", "run_id", "centroid_id", "codes").collect()
    } == rows_before
    assert sorted(
        map(tuple, idx.query_adc(probes, k=3, nprobe=2, rerank=6).collect())
    ) == q_before

    assert idx.remove(spark.createDataFrame([(100,)], "vec_id long")) != []
    assert idx.buckets().filter(F.col("vec_id") == 100).count() == 0
    assert idx.buckets().filter("codes is null").count() == 0


# --------------------------------------------------------------------------
# Engine facade fan-out
# --------------------------------------------------------------------------


@slow
def test_engine_compact_artifacts_fans_out(spark, tmp_path):
    """One Engine.compact_artifacts call compacts every registered
    artifact (tagged protocol for the run-partitioned three, file-level
    for IvfIndex) and reports per-artifact summaries; probes stay
    identical."""
    from dataeng_azure_spotify_spark import Engine
    from dataeng_azure_spotify_spark.operators.similarity import IvfIndex

    eng = Engine(spark, "/root/testdata/sf0.001")
    sub, _dfs, _adm, probe = _substring_state(spark, tmp_path)
    sem, _sdfs, _sadm = _semantic_state(spark, tmp_path)
    emb = eng.table("embeddings").limit(20).localCheckpoint(eager=True)
    ivf = IvfIndex.build(emb, str(tmp_path / "ivf"), num_centroids=2)
    for art in (sub, sem, ivf):
        eng.register_artifact(art)

    gram_rows = _grams_snapshot(sub)
    keep_rows = _keepers_snapshot(sem)

    summary = eng.compact_artifacts("compact-m1")
    assert len(summary) == 3
    assert all(
        s["result"] is not None and "skipped" not in s
        for s in summary.values()
    )
    assert _grams_snapshot(sub) == gram_rows
    assert _keepers_snapshot(sem) == keep_rows
    assert {
        r.run for r in sub.grams().select("run").distinct().collect()
    } == {"compact-m1"}
    with pytest.raises(ValueError, match="compact-"):
        eng.compact_artifacts("not-a-tag")
