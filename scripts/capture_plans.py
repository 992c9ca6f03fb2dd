#!/usr/bin/env python
"""Capture .explain("formatted") for every headline bench query.

Usage: python scripts/capture_plans.py <suffix> [name1,name2,...]

Writes plans/r17/<query>_<suffix>.txt for each query. Queries that drive
a streaming job to completion inside fn() (run_stream → memory
sink) still execute; their captured plan is the final table scan plus
whatever batch post-processing follows, so the interesting streaming
plan is the one Structured Streaming ran internally — for those the
bench timing plus the code shape are the evidence, and the capture is
kept for completeness.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    import bench  # noqa: E402  (headline list)
    from proteus_engine_spark.queries.registry import REGISTRY
    from proteus_engine_spark.session import get_session

    names = bench.HEADLINE
    if len(sys.argv) > 2:
        names = [n.strip() for n in sys.argv[2].split(",") if n.strip()]

    spark = get_session(app_name="proteus-plan-capture")
    out_dir = REPO / "plans" / os.environ.get("PROTEUS_PLANS_ROUND", "r18")
    out_dir.mkdir(parents=True, exist_ok=True)

    for name in names:
        if name not in REGISTRY:
            print(f"skip {name}: not registered", file=sys.stderr)
            continue
        try:
            df = REGISTRY[name].fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # capture failures visibly, keep going
            plan = f"EXPLAIN FAILED: {e!r}"
        (out_dir / f"{name}_{suffix}.txt").write_text(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
