"""Plan-shape snapshotting shared by the generator and the regression
test.

A query's "shape" is the histogram of physical-operator names in its
(pre-execution, AQE-initial) executed plan — stable across runs and
hosts for fixed code + fixed input, while catching exactly the class of
silent regression the hand-written plan tests guard piecemeal: a
broadcast turning into a shuffle, an extra Exchange, a filter detaching
from the scan, a Python eval node appearing in a codegen path.

Regenerate after INTENTIONAL plan changes::

    python tests/gen_plan_snapshots.py

and commit the diff — the diff itself is the review artifact.
"""

from __future__ import annotations

import re
from collections.abc import Callable


def snapshot_queries() -> dict[str, Callable]:
    """name -> wrapper for every query with a plan snapshot.

    Entries tagged ``plan_time_fit`` do heavyweight driver-side work at
    plan-build time (k-means fits, index builds) — excluded to keep
    generation fast; their plans are covered by dedicated tests in
    test_plans.py / test_llm_ops.py."""
    import __spark_entry__ as entry

    skip = set(entry.tagged("plan_time_fit"))
    return {n: fn for n, fn in entry.queries().items() if n not in skip}


def shape(plan: str) -> dict[str, int]:
    hist: dict[str, int] = {}
    for line in plan.splitlines():
        s = re.sub(r"^[\s:+\-*()\d]*", "", line).strip()
        if not s:
            continue
        op = s.split("(")[0].split(" ")[0].split("[")[0]
        if not op or not op[0].isupper():
            continue
        hist[op] = hist.get(op, 0) + 1
    return hist


def snapshot_session(tmp_warehouse: str):
    from dataeng_azure_spotify_spark.session import get_spark

    # mirror tests/conftest.py exactly — shapes must be comparable
    # between the generator and the pytest session
    return get_spark(
        app_name="plan-snapshots",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": tmp_warehouse},
    )
