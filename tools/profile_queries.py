#!/usr/bin/env python
"""Per-query profiler for the optimization rounds.

Runs the named queries under the bench methodology (noop sink, best-of-2,
``local[$SPARK_GRAFT_CPUS]``, sf dir from ``$SPARK_GRAFT_SF_DIR``) and
optionally dumps ``explain("formatted")`` to ``plans/r16/<q>_<tag>.txt``.

Usage:
    python tools/profile_queries.py [--plans TAG] [--runs N] name1 name2 ...
    python tools/profile_queries.py --top 40          # slowest 40 from the
                                                      # last checked-in leg
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emr_with_custom_metrics_spark import registry  # noqa: E402
from emr_with_custom_metrics_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--plans", default=None, help="dump explain to plans/r16/<q>_<TAG>.txt")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--top", type=int, default=0, help="profile slowest N from last leg")
    ap.add_argument("--leg", default=".bench_last_sf0.1.json")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = list(args.names)
    if args.top:
        leg = json.load(open(os.path.join(REPO, args.leg)))
        ranked = sorted(leg["queries"].items(), key=lambda kv: -kv[1])
        names += [k for k, _ in ranked[: args.top] if k not in names]

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.all_specs()
    # warm footers + JVM like bench.py
    specs["a1_group_count"].fn(spark, sf_dir).count()

    from emr_with_custom_metrics_spark.plans.stage_memo import BUILD_SECS

    out: dict[str, float] = {}
    for name in names:
        if name not in specs:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        best = float("inf")
        for _ in range(args.runs):
            memo0 = sum(BUILD_SECS.values())
            t0 = time.perf_counter()
            df = specs[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            elapsed -= sum(BUILD_SECS.values()) - memo0
            best = min(best, elapsed)
        out[name] = round(best, 3)
        print(f"{best:8.3f}  {name}", flush=True)
        if args.plans:
            os.makedirs(os.path.join(REPO, "plans", "r16"), exist_ok=True)
            from emr_with_custom_metrics_spark.plans.inspect import formatted_plan

            df = specs[name].fn(spark, sf_dir)
            plan = formatted_plan(df)
            path = os.path.join(REPO, "plans", "r16", f"{name}_{args.plans}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
