#!/usr/bin/env python
"""Dump `.explain("formatted")` for named queries to plans/<subdir>/.

Usage:
  python tools/dump_plan.py <plans-subdir> <tag> <query> [<query> ...]
  e.g. python tools/dump_plan.py r16 before dedup_blocking_tradeoff
       python tools/dump_plan.py r16 after  dedup_blocking_tradeoff

Writes plans/<plans-subdir>/<query>_<tag>.txt, built against
SPARK_GRAFT_SF_DIR (default sf0.1). The physical plan is the STATIC
plan (AdaptiveSparkPlan isFinalPlan=false) — the same artifact the
broadcast lint audits; Exchange counts / join strategies / PushedFilters
are all visible in it.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    if len(sys.argv) < 4:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    subdir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]

    from tools.scale import SRC
    from dns_log_transformer_spark.operators.caching import release_all
    from dns_log_transformer_spark.queries import ALL_QUERIES
    from dns_log_transformer_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SRC)
    spark = get_spark("dump_plan")
    outdir = os.path.join(REPO, "plans", subdir)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = ALL_QUERIES[name].fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
        release_all()
    return 0


if __name__ == "__main__":
    sys.exit(main())
