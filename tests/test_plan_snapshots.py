"""Whole-catalog plan-shape regression guard (see tests/plan_shapes.py).

Complements the targeted assertions in test_plans.py: ANY query whose
physical-operator histogram drifts — an extra Exchange, a lost
broadcast, a Python eval node in a codegen path — fails here with a
diff, even if nobody wrote a dedicated plan test for it."""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entry
from tests.plan_shapes import shape, snapshot_queries

SF = "/root/testdata/sf0.001"
_SNAP_PATH = os.path.join(os.path.dirname(__file__), "plan_snapshots.json")

with open(_SNAP_PATH) as f:
    SNAPSHOTS = json.load(f)


def test_snapshot_covers_every_query():
    assert set(SNAPSHOTS) == set(snapshot_queries()), (
        "plan_snapshots.json out of sync with queries() — regenerate: "
        "python tests/gen_plan_snapshots.py"
    )


@pytest.mark.parametrize("name", sorted(SNAPSHOTS))
def test_plan_shape_unchanged(spark, name):
    spark.catalog.clearCache()  # cache isolation, same as the generator
    plan = (
        entry.queries()[name](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    got = dict(sorted(shape(plan).items()))
    want = SNAPSHOTS[name]
    assert got == want, (
        f"{name}: physical plan shape changed.\n want={want}\n  got={got}\n"
        "If intentional, regenerate: python tests/gen_plan_snapshots.py"
    )
