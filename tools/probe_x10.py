"""Decade-up probe: time registered queries at sf0.1 and at the x10
fixture from tools/inflate_x10.py, best-of-2 per scale, single 24 GB
JVM on local[32]. Run uncontended (pgrep -cx java = 0); prints a
markdown table to stdout.

Usage: python tools/probe_x10.py --sf01 SF01_DIR --x10 X10_DIR NAME [NAME ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf01", required=True, help="sf0.1 fixture directory")
    ap.add_argument("--x10", required=True, help="x10 fixture directory (tools/inflate_x10.py)")
    ap.add_argument("names", nargs="+", help="registered query names")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from emr_with_custom_metrics_spark.registry import all_specs

    specs = all_specs()
    unknown = [n for n in args.names if n not in specs]
    if unknown:
        ap.error(f"not registered: {unknown}")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("x10-probe")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def run_once(name: str, sf_dir: str):
        t0 = time.time()
        try:
            n = specs[name].fn(spark, sf_dir).count()
        except Exception as exc:  # noqa: BLE001 — probe must survive
            return f"ERR {type(exc).__name__}", None
        return time.time() - t0, n

    results = []
    for name in args.names:
        per_scale = []
        for sf_dir in (args.sf01, args.x10):
            a, n = run_once(name, sf_dir)
            if not isinstance(a, str):
                b, _ = run_once(name, sf_dir)
                if not isinstance(b, str):
                    a = min(a, b)
            per_scale.append((a, n))
            disp = a if isinstance(a, str) else f"{a:.2f}s"
            print(f"  .. {name} @ {sf_dir}: {disp} rows={n}", flush=True)
        results.append((name, per_scale))

    print("\n| row | sf0.1 | x10 | ratio | rows sf0.1 -> x10 |")
    print("|---|---|---|---|---|")
    for name, ((a, na), (b, nb)) in results:
        if isinstance(a, str) or isinstance(b, str):
            print(f"| {name} | {a} | {b} | — | {na} -> {nb} |")
        else:
            print(f"| {name} | {a:.2f} | {b:.2f} | {b / a:.1f}x | {na} -> {nb} |")
    spark.stop()


if __name__ == "__main__":
    main()
