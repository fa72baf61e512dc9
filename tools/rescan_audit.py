"""Duplicate-subtree sweep: find queries that scan the same table more
than once and check whether Spark actually reuses any of the work.

Motivation (r5): the tfidf recompute finding generalized — Spark's
exchange-reuse does NOT fire across broadcast boundaries or AQE query
stages for any shape in this repo (measured: zero ReusedExchange /
ReusedQueryStage anywhere), so a subtree that appears twice in a plan is
genuinely computed twice. Most multi-scans are legitimate (self-joins,
per-role pushed filters — see SCALING.md "Round-5 rescan audit" for the
classification and the persist-only-reduced-intermediates rule); this
tool exists so new operators get the same scrutiny.

Usage: python tools/rescan_audit.py [sf_dir] [--execute]
  --execute  also run each flagged query and report executed-plan reuse
             nodes (slower; default reports the pre-execution plan only)
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
EXECUTE = "--execute" in sys.argv
args = [a for a in sys.argv[1:] if a != "--execute"]
if args:
    SF_DIR = args[0]


def main() -> int:
    import __spark_entry__ as entrymod
    from presto_truffle_spark.plans import inspect
    from presto_truffle_spark.session import get_spark

    spark = get_spark("rescan_audit")
    qs = entrymod.queries()
    flagged = 0
    for name, fn in qs.items():
        try:
            df = fn(spark, SF_DIR)
            plan = inspect.physical_plan(df)
        except Exception as exc:
            print(f"ERR   {name}: {type(exc).__name__}: {exc}"[:120])
            continue
        scans = re.findall(r"FileScan parquet .*?/(\w+)\.parquet", plan)
        multi = {t: n for t, n in Counter(scans).items() if n > 1}
        if not multi:
            continue
        flagged += 1
        cache_reads = plan.count("InMemoryTableScan")
        line = f"multi  {name}: {multi} cache_reads={cache_reads}"
        if EXECUTE:
            df.count()
            ex = df._jdf.queryExecution().executedPlan().toString()
            reuse = ex.count("ReusedExchange") + ex.count("ReusedQueryStage")
            line += f" executed_reuse={reuse}"
        print(line)
    print(f"\n{flagged} queries scan some table more than once")
    return 0


if __name__ == "__main__":
    sys.exit(main())
