"""Per-query isolation harness (guide §1.4) — NOT the driver contract.

Times individual declared queries with the noop sink (computes every column,
discards the write), min-of-N, with a GC breather between queries so readings
reflect the plan rather than accumulated heap state. Optionally dumps
``.explain("formatted")`` to a plans directory.

Usage:
    python bench_extra.py [--sf DIR] [--runs N] [--explain-dir DIR] [query ...]

Defaults: sf dir from $SPARK_GRAFT_SF_DIR (else /root/testdata/sf0.1), 3 runs,
all BENCH_QUERIES from bench.py. Prints one JSON line
{"queries": {name: min_sec}, "samples": {...}, "sf": ...}.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="", help="explain file suffix (_before/_after)")
    args = ap.parse_args()

    from bench import BENCH_QUERIES
    from granulate_char_ocr_spark import driver_queries
    from granulate_char_ocr_spark.session import get_spark

    spark = get_spark(app_name="gcos-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    names = args.queries or BENCH_QUERIES
    sf_name = args.sf.rstrip("/").rsplit("/", 1)[-1]

    times: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in names:
        fn = driver_queries.QUERIES.get(name, getattr(driver_queries, name))
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = fn(spark, args.sf)
            with open(
                os.path.join(args.explain_dir, f"{name}{args.suffix}.txt"), "w"
            ) as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                ))
        if args.runs <= 0:
            continue
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.3)
        runs = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        times[name] = min(runs)
        samples[name] = runs
        print(f"# {name}: {runs} -> {min(runs)}", file=sys.stderr)
    print(json.dumps({"queries": times, "samples": samples, "sf": sf_name}))


if __name__ == "__main__":
    main()
