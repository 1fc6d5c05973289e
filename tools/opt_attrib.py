"""Per-query optimization attribution (guide §1).

For every registered query (or a --only subset), measures SEPARATELY:

  t_build  — Python DataFrame construction (plan assembly on the driver)
  t_plan   — analysis + optimization + physical planning (explain cost)
  t_exec   — noop-sink execution, best-of-N (guide §1.4)

and writes the ``explain("formatted")`` output to plans/<tag>/<query>_<suffix>.txt
so plan-shape claims are auditable. clearCache() before every query,
as bench.py does.

Usage:
  python tools/opt_attrib.py [--only q1,q2] [--reps 2] [--tag r10] \
      [--suffix before] [--no-plans]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eligibility_etl_airflow_spark import registry
from eligibility_etl_airflow_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="", help="comma-separated query names")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--tag", default="r10")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--out", default="", help="JSON output path")
    args = ap.parse_args()

    registry.load_all()
    spark = get_spark("opt-attrib")
    spark.sparkContext.setLogLevel("ERROR")

    names = (
        [n.strip() for n in args.only.split(",") if n.strip()]
        if args.only
        else sorted(registry.QUERIES)
    )
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    if not args.no_plans:
        os.makedirs(plans_dir, exist_ok=True)

    # warmup: JVM + codegen + python workers
    warm = registry.QUERIES["eligibility_flagship"]
    warm(spark, SF_DIR).write.mode("overwrite").format("noop").save()

    rows = {}
    for name in names:
        fn = registry.QUERIES[name]
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"attrib:{name}")
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        t1 = time.perf_counter()
        # force analysis+optimization+physical planning without executing
        plan_text = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        t2 = time.perf_counter()
        t_exec = None
        for _ in range(max(1, args.reps)):
            spark.catalog.clearCache()
            s = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            e = time.perf_counter() - s
            t_exec = e if t_exec is None else min(t_exec, e)
        rows[name] = {
            "t_build": round(t1 - t0, 4),
            "t_plan": round(t2 - t1, 4),
            "t_exec": round(t_exec, 4),
            "total": round((t1 - t0) + (t2 - t1) + t_exec, 4),
        }
        if not args.no_plans:
            with open(
                os.path.join(plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(plan_text)
        print(json.dumps({"query": name, **rows[name]}), flush=True)
        spark.sparkContext.setJobDescription(None)

    summary = {
        "sf_dir": SF_DIR,
        "reps": args.reps,
        "total_exec": round(sum(r["t_exec"] for r in rows.values()), 4),
        "total_build": round(sum(r["t_build"] for r in rows.values()), 4),
        "total_plan": round(sum(r["t_plan"] for r in rows.values()), 4),
        "queries": rows,
    }
    out = args.out or f"/tmp/opt_attrib_{args.suffix}.json"
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(f"wrote {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
