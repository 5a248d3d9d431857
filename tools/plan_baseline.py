"""Generate (or refresh) the committed physical-plan baseline.

For every registered query, records the node counts that define its
scale shape — Exchange (shuffles), FileScan (input passes), Python
eval boundaries, and nested-loop joins, as counted by
dot_spark.plans.plan_counts — into tools/plan_baseline.json.
tests/test_plans.py compares live plans against this file and fails
any query whose shuffle/scan/py-eval count GREW: the silent
regression class (a lost broadcast, a defeated exchange reuse, an
accidental UDF) that small-SF correctness tests cannot see.

Run after intentionally changing a plan shape:
    python tools/plan_baseline.py
then commit the JSON alongside the change.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    from dot_spark import get_spark
    from dot_spark.plans import plan_counts
    from dot_spark.queries import QUERIES

    spark = get_spark("plan_baseline")
    here = os.path.dirname(os.path.abspath(__file__))
    # TWO baselines per query: the default session (AQE on — what
    # production runs) and AQE OFF. The second catches shapes that
    # only AQE rescues at runtime (a join that static planning leaves
    # as sort-merge but AQE demotes to broadcast): a query whose
    # AQE-off plan regresses is one bad runtime-stats estimate away
    # from regressing in production.
    for fname, aqe in (("plan_baseline.json", "true"),
                       ("plan_baseline_aqe_off.json", "false")):
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        out = {}
        try:
            for name, fn in sorted(QUERIES.items()):
                try:
                    out[name] = plan_counts(fn(spark, SF_DIR))
                except Exception as e:  # pragma: no cover - diagnostic path
                    print(f"ERR {name}: {e}", file=sys.stderr)
                    raise
                print(name, out[name])
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        path = os.path.join(here, fname)
        with open(path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {path} ({len(out)} queries)")


if __name__ == "__main__":
    main()
