"""Dump .explain("formatted") for named registered queries.

Usage:
    python scripts/explain_dump.py <suffix> <query> [<query> ...]

Writes plans/$SPARK_GRAFT_PLAN_ROUND/<query>_<suffix>.txt (default r16;
gitignored) for each named query. A before/after pair checks plan
claims (Exchange counts, join strategies, PushedFilters) against the
code: the dump is the plan of the EXACT registered callable at
$SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchviz_spark.caching import clear_caches  # noqa: E402
from benchviz_spark.registry import all_queries  # noqa: E402
from benchviz_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(REPO, "plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r16"))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("explain_dump")
    queries = all_queries()
    for name in names:
        clear_caches()
        df = queries[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange mentions)")


if __name__ == "__main__":
    main()
