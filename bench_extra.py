"""Per-query isolation bench (guide §1.4): times individual declared
queries with the noop sink under the same session config as bench.py,
and dumps .explain("formatted") plans for the plan-audit files in
plans/r06/.

bench.py is FROZEN for measurement; this file exists so optimization
work can iterate on single queries without touching it.

Usage:
  python bench_extra.py [--sf DIR] [--repeats N] [--explain TAG] q1 q2 ...
  python bench_extra.py --all            # every HEADLINE query
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE, build_spark  # noqa: E402  (frozen harness reused read-only)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--repeats", type=int, default=int(os.environ.get("SPARK_GRAFT_QUERY_REPEATS", "3")))
    ap.add_argument("--explain", default=None, metavar="TAG",
                    help="write plans/r06/<query>_<TAG>.txt for each query")
    ap.add_argument("--plan-only", action="store_true",
                    help="skip execution; only dump plans (requires --explain)")
    args = ap.parse_args()

    names = HEADLINE if args.all else args.queries
    spark = build_spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # same warm-up as bench.py
    for w in ("case_fold", "token_count"):
        try:
            df = qs[w](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001
            pass

    times: dict[str, list[float]] = {}
    for name in names:
        fn = qs[name]
        samples = []
        for _ in range(0 if args.plan_only else args.repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        times[name] = samples or [0.0]
        samples = times[name]
        if args.explain:
            os.makedirs("plans/r06", exist_ok=True)
            out = fn(spark, args.sf)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            path = f"plans/r06/{name}_{args.explain}.txt"
            with open(path, "w") as fh:
                fh.write(out)
        print(json.dumps({name: {"min": min(samples), "samples": samples}}), flush=True)

    print(json.dumps({
        "sf_dir": args.sf,
        "total_min": round(sum(min(v) for v in times.values()), 3),
        "queries_min": {k: min(v) for k, v in times.items()},
    }))


if __name__ == "__main__":
    main()
