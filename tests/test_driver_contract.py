"""Driver-contract guard: the external driver imports __spark_entry__
with its OWN PLAIN SparkSession (no engine tuning from session.get_spark).

The rest of the suite runs on the tuned session fixture, so a query that
silently depends on an engine-session conf (timezone pin, nanos handling,
AQE setting) would pass pytest and fail the driver. This test runs
entry() plus a representative query slice in a SUBPROCESS with a bare
builder — the same shape the driver uses — because a second in-process
getOrCreate() would just return the tuned session.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[4]").getOrCreate()
import __spark_entry__ as m

assert len(m.entry(spark).collect()) > 0

# one per risk class: events/nanos-timestamp read, array output, window
# SQL, recursive-composite, catalog temp views via spark.sql
for name in (
    "events_tumbling_window",   # nanos ts conversion happens in Catalog
    "quantize_embeddings",      # array<float> in, array<int> out
    "window_rank_suite",        # WINDOW-clause SQL over temp views
    "sample_exact_n",           # hash-ordered TakeOrderedAndProject
):
    n = m.queries()[name](spark, "/root/testdata/sf0.001").count()
    assert n > 0, name
print("DRIVER_CONTRACT_OK")
"""


@pytest.mark.slow
def test_plain_session_driver_contract():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, _ROOT],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "DRIVER_CONTRACT_OK" in proc.stdout
