"""Dump .explain("formatted") for named registry queries to files.

Usage:
    python tools/dump_plans.py <suffix> [query ...]

Writes plans/$PAC_PLANS_ROUND/<query>_<suffix>.txt (default round:
r12) for each named query (default: every BENCH_QUERIES entry), over
the tables in $SPARK_GRAFT_SF_DIR. These artifacts back plan-shape
claims (Exchange count, join strategy, PushedFilters) against the
code, so the dump is the raw formatted plan, untruncated.

Streaming queries (run_to_memory drains) cannot be explained without
executing the stream; for those the dump records the drained batch
result's plan plus a marker line.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pac_spark.plans.registry import queries  # noqa: E402
from pac_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("PAC_PLANS_ROUND", "r12"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="pac_spark_plandump")
    qs = queries()
    if not names:
        import bench

        names = [n for n in bench.BENCH_QUERIES if n in qs]
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — record, keep dumping
            plan = f"EXPLAIN FAILED: {exc!r}\n"
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
