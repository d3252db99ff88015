"""Regenerate tests/plan_snapshots.json (see tests/plan_shapes.py)."""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from plan_shapes import shape, snapshot_queries, snapshot_session  # noqa: E402

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = snapshot_session(tempfile.mkdtemp(prefix="plansnap-wh-"))
    out = {}
    for name, fn in snapshot_queries().items():
        # cache isolation: a neighbor query's persist() would otherwise
        # surface as InMemoryRelation in THIS query's plan
        spark.catalog.clearCache()
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        out[name] = dict(sorted(shape(plan).items()))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "plan_snapshots.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(out)} shapes to {path}")
    spark.stop()


if __name__ == "__main__":
    main()
