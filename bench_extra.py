"""Per-query isolation bench + plan capture (guide §1.1/§1.4/§7.2).

NOT the frozen driver bench (bench.py) — this is the round-8
optimization loop's instrument: time any subset of the registered
queries with the noop sink, capture .explain("formatted") for each,
and print per-query medians as JSON. ``codegen_compiles`` lists, per
query, the generated classes compiled in each rep: the first rep
fills the codegen cache, so a non-zero count in a later rep names a
query that recompiles when warm.

Usage:
    python bench_extra.py [--reps N] [--plans plans/r08 --tag before]
                          [query ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="query names (default: all)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir to write plan files")
    ap.add_argument("--tag", default="before", help="plan file suffix")
    ap.add_argument("--out", default=None, help="also write JSON here")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from textalyzer_spark.session import codegen_compile_count, get_spark

    spark = get_spark("textalyzer-bench-extra", cores=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = args.queries or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # same warmup as bench.py: JVM + parquet footers + python workers
    from pyspark.sql import functions as FN

    from textalyzer_spark.functions.tokenize import tokens_udf

    qs["word_frequency"](spark, sf_dir).limit(1).collect()
    spark.range(cpus * 4).repartition(cpus).withColumn(
        "t", tokens_udf(FN.lit("warm up text"))
    ).write.format("noop").mode("overwrite").save()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    compiles: dict[str, list[int]] = {}
    for name in names:
        if args.plans:
            import contextlib
            import io

            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(f"{args.plans}/{name}_{args.tag}.txt", "w") as f:
                f.write(buf.getvalue())
        reps, classes = [], []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            c0 = codegen_compile_count(spark)
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            reps.append(round(time.perf_counter() - t0, 3))
            classes.append(codegen_compile_count(spark) - c0)
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(statistics.median(reps), 3)
        samples[name] = reps
        compiles[name] = classes
        print(f"  {name}: {timings[name]} {reps} compiled {classes}",
              file=sys.stderr)

    result = {
        "metric": "bench_extra_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "samples": samples,
        "codegen_compiles": compiles,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": cpus,
    }
    spark.stop()
    line = json.dumps(result)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
