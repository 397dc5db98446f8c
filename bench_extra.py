"""Extra benchmarks for optimization work (guide §1.4) — NOT the frozen
driver harness (that is bench.py, untouched).

Modes:
  python bench_extra.py [--noop] [--runs N] [--explain DIR] [q... ]

- Times each named query (default: the bench.py HEADLINE list) with the
  noop sink (computes every column of every row, discards the result)
  or with .count() (--count, the frozen-harness action), median of N.
- --explain DIR additionally writes ``<query>.txt`` with
  ``explain('formatted')`` output for each query.

Reads $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS exactly like bench.py.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402


def main():
    args = sys.argv[1:]
    use_noop = "--noop" in args
    if use_noop:
        args.remove("--noop")
    if "--count" in args:
        args.remove("--count")
        use_noop = False
    runs = 3
    if "--runs" in args:
        i = args.index("--runs")
        if i + 1 >= len(args):
            sys.exit("usage: --runs N (N >= 1)")
        runs = max(1, int(args[i + 1]))
        del args[i:i + 2]
    explain_dir = None
    if "--explain" in args:
        i = args.index("--explain")
        if i + 1 >= len(args):
            sys.exit("usage: --explain DIR")
        explain_dir = args[i + 1]
        del args[i:i + 2]
        os.makedirs(explain_dir, exist_ok=True)
    names = args or HEADLINE

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from medtype_spark.queries import QUERIES
    from medtype_spark.session import get_spark

    spark = get_spark("bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(int(cpus), 8))
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    def run(df):
        if use_noop:
            df.write.format("noop").mode("overwrite").save()
            return -1
        return df.count()

    for name in names:
        fn = QUERIES[name]
        if explain_dir:
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(fn(spark, sf_dir)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        spark.sparkContext.setJobDescription(f"{name}: warmup")
        run(fn(spark, sf_dir))
        samples = []
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"{name}: run {r}")
            t0 = time.perf_counter()
            n = run(fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        dt = statistics.median(samples)
        print(f"{name}: {dt:.3f}s median of {[round(s, 3) for s in samples]}"
              f" ({n} rows, {'noop' if use_noop else 'count'})")


if __name__ == "__main__":
    main()
