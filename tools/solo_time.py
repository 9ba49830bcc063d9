"""Solo-warm timing for one or more registered queries.

Usage: python tools/solo_time.py <sf_dir> <query> [query ...] [--n 3]

Mirrors bench.py's measurement (noop sink, clearCache + GC between
runs) but runs only the named queries, each n times after one warm
pass, and prints min/median — the re-probe tool for confirming a
suspected regression or pinning an optimization outside full-bench
tail contention.
"""

from __future__ import annotations

import argparse
import statistics
import sys
import time

sys.path.insert(0, ".")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Solo-warm timing of registered queries.", allow_abbrev=False)
    p.add_argument("sf_dir", help="directory of the parquet tables at one scale factor")
    p.add_argument("queries", nargs="+", help="registered query names")
    p.add_argument("--n", type=int, default=3, help="timed runs per query after one warm run")
    opts = p.parse_args(argv)
    if opts.n < 1:
        p.error("--n must be at least 1")
    return opts


def main() -> None:
    opts = parse_args()
    sf_dir, names, n = opts.sf_dir, opts.queries, opts.n

    from joblink_etl_spark.plans import registry
    from joblink_etl_spark.session import get_spark

    spark = get_spark("solo_time")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    for name in names:
        fn = qs[name]
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()  # warm
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        ts = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            ts.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        print(
            f"{name}: min={min(ts):.2f}s median={statistics.median(ts):.2f}s "
            f"runs={[round(t, 2) for t in ts]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
