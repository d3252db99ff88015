"""Self-tests of the benchmark: deterministic generators, output checks
that reject corrupted outputs, and a status-store reader that sees jobs.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.curation import MIX_TOTAL, STAGES, blocklist_survivors, canonical, check_audit  # noqa: E402
from perfbench.medallion import CheckFailed, check_counts, check_scd2, check_star  # noqa: E402


def _star_files(seed: int, out: str) -> None:
    g = gen.StarCdc(seed, users=300, artists=20, tracks=100, facts=2_000)
    for name, t in g.initial().items():
        gen.write_parquet(t, os.path.join(out, "c0", f"{name}.parquet"))
    for name, t in g.delta(1).items():
        gen.write_parquet(t, os.path.join(out, "c1", f"{name}.parquet"))


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for root, _dirs, files in os.walk(d):
        for n in files:
            with open(os.path.join(root, n), "rb") as f:
                out[os.path.relpath(os.path.join(root, n), d)] = f.read()
    return out


@pytest.mark.parametrize("write", [
    _star_files,
    lambda seed, out: gen.write_curation_fixture(out, seed, n_docs=300, n_vectors=50),
])
def test_generators_are_byte_identical_per_seed(tmp_path, write):
    write(7, str(tmp_path / "a"))
    write(7, str(tmp_path / "b"))
    write(8, str(tmp_path / "c"))
    a, b, c = (_bytes(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a != c


def test_star_delta_has_duplicates_and_null_keys():
    g = gen.StarCdc(3, users=300, artists=20, tracks=100, facts=2_000)
    g.initial()
    d = g.delta(1)
    assert set(d) == set(gen.CDC_TABLES)
    users = d["DimUser"].to_pandas()
    assert users["user_id"].isna().sum() > 0
    assert users.dropna(subset=["user_id"]).duplicated().sum() > 0


def test_corpus_has_both_quality_classes_and_duplicates():
    docs = gen.corpus(5, 1_000).to_pandas()
    words = docs["text"].str.split().str.len()
    assert (words < 40).any() and (words >= 40).any()
    assert docs["text"].duplicated().sum() >= 40  # the exact copies
    assert docs["text"].str.contains(r"\bdup\b").any()


def test_count_check_rejects_a_dropped_fact():
    want = {"FactStream": 100, "DimUser": 10}
    check_counts(dict(want), want)
    with pytest.raises(CheckFailed):
        check_counts({"FactStream": 99, "DimUser": 10}, want)


def test_star_check_rejects_a_dropped_fact():
    g = gen.StarCdc(4, users=300, artists=20, tracks=100, facts=2_000)
    g.initial()
    exp = g.expected_gold()
    want = gen.star_checksums(exp)
    check_star(gen.star_checksums(exp), want)
    exp["FactStream"] = exp["FactStream"].iloc[1:]
    with pytest.raises(CheckFailed):
        check_star(gen.star_checksums(exp), want)


def test_audit_check_rejects_a_short_mix_a_dedup_that_kept_all_and_wrong_gates():
    audit = dict(zip(STAGES, (900, 800, 700, 650, 650, MIX_TOTAL, MIX_TOTAL)))
    check_audit(audit, 1_000, 900, 700)
    with pytest.raises(CheckFailed):
        check_audit({**audit, "mix": MIX_TOTAL - 1, "shards": MIX_TOTAL - 1}, 1_000, 900, 700)
    with pytest.raises(CheckFailed):
        check_audit({**audit, "dedup_near": 700, "rewrite_spans": 700}, 1_000, 900, 700)
    with pytest.raises(CheckFailed):
        check_audit(audit, 1_000, 901, 700)  # the gate dropped a clean document
    with pytest.raises(CheckFailed):
        check_audit(audit, 1_000, 900, 699)  # exact dedup kept a copy


def test_blocklist_survivors_follow_the_ppm_threshold():
    clean = " ".join(["w"] * 25)  # 0 of 25 blocked
    edge = " ".join(["dup"] + ["w"] * 24)  # 1 of 25 = 40,000 ppm, kept
    over = " ".join(["dup"] + ["w"] * 23)  # 1 of 24 > 40,000 ppm
    assert blocklist_survivors([clean, edge, over, ""]) == 3


def test_canonical_form_sees_a_changed_value():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": [0.5, None]})
    assert canonical(a) == canonical(a.iloc[::-1])
    assert canonical(a) != canonical(pd.DataFrame({"x": [1, 3], "y": [0.5, None]}))


@pytest.fixture(scope="module")
def spark():
    from dataeng_azure_spotify_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest", master="local[2]")
    yield s
    s.stop()


def _scd2_rows(spark, rows):
    from dataeng_azure_spotify_spark.operators.scd import CURRENT_COL, END_COL, START_COL

    schema = f"user_id int, {START_COL} timestamp, {END_COL} timestamp, {CURRENT_COL} boolean"
    return spark.createDataFrame(rows, schema)


def test_scd2_check_rejects_two_current_rows_and_overlaps(spark):
    t = [dt.datetime(2025, 1, d) for d in range(1, 5)]
    good = [(1, t[0], t[1], False), (1, t[1], None, True), (2, t[0], None, True)]
    check_scd2(_scd2_rows(spark, good), "user_id")
    two_current = [(1, t[0], None, True), (1, t[1], None, True)]
    with pytest.raises(CheckFailed):
        check_scd2(_scd2_rows(spark, two_current), "user_id")
    overlap = [(1, t[0], t[2], False), (1, t[1], None, True)]
    with pytest.raises(CheckFailed):
        check_scd2(_scd2_rows(spark, overlap), "user_id")


def test_status_store_reader_sees_the_jobs_of_a_query(spark):
    from perfbench.probe import Tracer

    tr = Tracer(spark, enabled=True)
    tr.catch_up()
    with tr.span("known"):
        spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    (span,) = tr.spans
    assert span["jobs"] > 0 and span["tasks"] > 0
    assert 0 <= span["driver_s"] <= span["wall_s"]


def test_old_gen_peak_reads_the_driver_heap(spark):
    from perfbench.probe import old_gen_pools, take_heap_peak_mb

    spark.range(200_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    pools = old_gen_pools(spark)
    assert len(pools) == 1
    assert take_heap_peak_mb(pools) > 0
