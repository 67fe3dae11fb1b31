#!/usr/bin/env python
"""Capture .explain('formatted') for named registry queries into
plans/$SPARK_GRAFT_PLAN_ROUND/<query>_<tag>.txt (judge-checkable
evidence for the optimization rounds). Usage:

    SPARK_GRAFT_PLAN_ROUND=r11 python scripts/capture_plans.py <tag> <query> [...]

Tag is 'before' or 'after'. Data dir from $SPARK_GRAFT_SF_DIR
(default sf0.1 — plans are built, not executed, so SF only affects
AQE-estimated sizes, not shape).

CAVEAT (round 11): "built, not executed" holds for the lazy
localCheckpoint fences (the round-11 shingle-array fence included),
but queries whose construction pins a bounded reference set —
collect_ref_vectors / the IVF centroid pins in operators/similarity —
DO run their small driver-side collect jobs while the plan is built;
their capture is therefore slower but still cheap (the collects are
hard-capped at REF_PIN_MAX_ROWS). The eager-checkpoint dedup operators
in operators/dedup (prefix_filter_candidates, containment_candidates,
verify_candidates_jaccard, verify_candidates_containment,
pruned_jaccard_pairs) are not cheap: each persists its input, counts
it and eagerly checkpoints its result, so it runs corpus-sized jobs
while the plan is built, and capturing those queries costs about as
much as running them at the chosen SF.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_weather_spark import queries as q
from etl_weather_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r11"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.queries()
    for name in names:
        df = registry[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
