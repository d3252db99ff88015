from __future__ import annotations

import os
import subprocess
import sys
from collections import Counter

import __spark_entry__ as entrymod


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"mktsegment", "orderstatus", "n_items", "revenue"}


def test_queries_and_oracles_align():
    # a dict literal keeps the last of two equal keys silently; in the
    # registry tuple a duplicate would shadow an entry in queries() and
    # oracle_sql() instead
    names = [q.name for q in entrymod.REGISTRY]
    dups = [n for n, c in Counter(names).items() if c > 1]
    assert not dups, dups
    assert list(entrymod.queries()) == names
    assert list(entrymod.oracle_sql()) == names
    assert all(q.oracle.strip() for q in entrymod.REGISTRY)


def test_registry_tags_are_read_somewhere():
    # headline/heavy: bench.py sample classes and headline total;
    # plan_time_fit: tests/plan_shapes.py snapshot skip set
    tags = {t for q in entrymod.REGISTRY for t in q.tags}
    assert tags <= {"headline", "heavy", "plan_time_fit"}, tags


def test_headline_membership_fixed():
    # the headline total is the cross-round metric: 15 queries since r1
    assert len(entrymod.tagged("headline")) == 15


def test_entry_imports_without_warnings():
    # a UserWarning at import time (e.g. a UDF whose type hints PySpark
    # cannot read) lands in the log of every process that imports the
    # entry module
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-W", "error::UserWarning", "-c", "import __spark_entry__"],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
