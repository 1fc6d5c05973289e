"""Sweep every registered query's executed plan for repeated scans of
one table — the single-consumption audit that found the round-8 fixes
(contrastive one-pass, bm25/tfidf window-dfreq, the vocab-model and
top-k persists): an expensive lineage consumed by 2+ branches re-executes
wherever exchange reuse does not cover the differing subtrees, and the
DataFrame code reads as if the intermediate were materialized.

Reading the output: scan counts come from the PLAN TEXT. Registered
queries leave nothing in Spark's cache, so every printed scan executes;
a relation materialized up front (``sinks._stable``) prints as one
``Scan ExistingRDD`` and its own scans ran once, before the plan was
built. Legitimate multi-scanners exist: set operations and funnels
scan per branch BY SEMANTICS, and recomputing a corpus-sized
intermediate is often cheaper than materializing it (the token-stream
trade in operators/lm.py) — the sweep locates candidates, the plan
decides.

Usage: python tools/scan_sweep.py [--sf DIR] [--min-scans N]
Prints one line per flagged query.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eligibility_etl_airflow_spark.session import get_spark
from eligibility_etl_airflow_spark import registry


def main() -> None:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    min_scans = 3
    args = sys.argv[1:]
    for i, a in enumerate(args):
        if a == "--sf":
            sf = args[i + 1]
        if a == "--min-scans":
            min_scans = int(args[i + 1])

    registry.load_all()
    spark = get_spark(app_name="scan_sweep")
    flagged = 0
    for name, fn in registry.QUERIES.items():
        try:
            df = fn(spark, sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # a broken query is a finding too
            print(f"{name}: ERROR {str(exc)[:80]}")
            flagged += 1
            continue
        tables = Counter(re.findall(r"file:[^\s,\]]*/(\w+)\.parquet", plan))
        multi = {t: n for t, n in tables.items() if n >= min_scans}
        if multi:
            print(f"{name}: scans={multi}")
            flagged += 1
    print(f"flagged {flagged} of {len(registry.QUERIES)} queries")


if __name__ == "__main__":
    main()
