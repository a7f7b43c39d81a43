"""Round-6 optimization harness (guide §1): per-query noop-sink timing
+ .explain("formatted") capture, WITHOUT touching the frozen bench.py.

Usage:
    python bench_extra.py [--sf DIR] [--cpus N] [--runs N] \
        [--explain-dir plans/r06] [--suffix before] [q1 q2 ...]

Prints one JSON line per query: {"name":..., "runs":[...], "median":...}
and (when --explain-dir is given) writes <dir>/<name>_<suffix>.txt with
the formatted physical plan.  Pinned via taskset like bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from bench._util import repin


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    repin(args.cpus)

    from accountant_pdf_extract_spark.plans import driver_queries
    from accountant_pdf_extract_spark.session import get_spark

    spark = get_spark(app="bench_extra", master=f"local[{args.cpus}]")
    spark.range(10_000).selectExpr("sum(id)").collect()

    qs = driver_queries.queries()
    names = args.names or list(qs)
    out = {}
    for name in names:
        if name not in qs:
            print(f"unknown query {name}", file=sys.stderr)
            continue
        df = qs[name](spark, args.sf)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(
                    args.explain_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        runs = []
        for i in range(args.runs + 1):  # first run = unrecorded warm-up
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.monotonic() - t0, 3)
            if i > 0:
                runs.append(dt)
        spark.sparkContext.setJobDescription(None)
        med = round(statistics.median(runs), 3)
        out[name] = {"runs": runs, "median": med}
        print(json.dumps({"name": name, "runs": runs, "median": med}),
              flush=True)
    print(json.dumps({"summary": {k: v["median"] for k, v in out.items()},
                      "sf": args.sf, "cpus": args.cpus}))
    spark.stop()


if __name__ == "__main__":
    main()
