"""Bulk probe of the fetch cascade and the drain loop over synthetic
fake links (no download, no network: the fake clients answer from the
URL alone).

    python tools/fetch_probe.py [--fetch-links 10000] [--partitions 4]
        [--warm 4] [--drain-links 1000] [--batch-size 1000]

Prints one JSON line with:
  fetch: ``fetch_smart`` over --fetch-links links in --partitions
         partitions: the session's first call and the median of --warm
         further calls, in seconds;
  drain: ``drain_all`` over --drain-links links at parse and notes batch
         size --batch-size: links/s, drain cycles, Spark jobs and
         seconds per cycle, the whole-stage-codegen classes the drain
         compiled (Spark's CodegenMetrics) and the Python UDF workers
         alive after it.

The links cycle through every URL class the fakes know (ATS API,
direct, thin page, aggregator unwrap, HTTP 500, client error). Before
any timed call the session runs one pandas batch per core, so the
Python worker pool exists, as in a long-lived session; what the first
fetch still pays is the workers its plan needs beyond one per task.
Run from the repository root; the package on ``sys.path`` is the one
measured.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from datetime import datetime

sys.path.insert(0, os.getcwd())

# link format of each URL class; %1$d is the link's number
LINK_FORMATS = [
    "https://boards.greenhouse.io/acme-%1$d/jobs/%1$d",
    "https://jobs.lever.co/mega-%1$d/%1$d",
    "https://site%1$d.example.com/direct/%1$d",
    "https://site%1$d.example.com/thin/%1$d",
    "https://www.linkedin.com/jobs/view/%1$d",
    "https://site%1$d.example.com/broken/%1$d",
    "https://site%1$d.example.com/raise/%1$d",
]


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        description="Bulk probe of fetch_smart and drain_all over fake links.",
        allow_abbrev=False,
    )
    p.add_argument("--fetch-links", type=int, default=10_000, help="links per fetch call")
    p.add_argument("--partitions", type=int, default=4, help="partitions of the fetch input")
    p.add_argument("--warm", type=int, default=4, help="timed calls after the first")
    p.add_argument("--drain-links", type=int, default=1_000, help="links in the drained tracker")
    p.add_argument("--batch-size", type=int, default=1_000, help="parse and notes batch size")
    return p.parse_args(argv)


def links(spark, n: int, partitions: int):
    """(row_index, link) rows, the URL classes in turn."""
    from pyspark.sql import functions as F

    i = F.col("id")
    url = F.element_at(
        F.array(*[F.format_string(f, i) for f in LINK_FORMATS]),
        (i % len(LINK_FORMATS) + 1).cast("int"),
    )
    return spark.range(0, n, 1, partitions).select(i.alias("row_index"), url.alias("link"))


def timed_jobs(spark, group: str, fn):
    """(seconds, Spark jobs, result) of fn() under one job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, len(sc.statusTracker().getJobIdsForGroup(group)), out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def codegen_compilations(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def python_workers(spark) -> int:
    """Live Python UDF workers: the children of the JVM's pyspark
    daemons (Linux /proc)."""
    parent = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    parent.pop(int(pid))
        except OSError:
            parent.pop(int(pid), None)
    jvm = spark.sparkContext._gateway.proc.pid
    daemons = {p for p, pp in parent.items() if pp == jvm}
    return sum(pp in daemons for pp in parent.values())


def probe_fetch(spark, opts, clients) -> dict:
    from joblink_etl_spark.operators.fetch import fetch_smart

    http, renderer, _ = clients
    df = links(spark, opts.fetch_links, opts.partitions).withColumnRenamed("link", "url")
    secs = []
    for k in range(1 + opts.warm):
        s, _, out = timed_jobs(spark, f"fetch-{k}", lambda: fetch_smart(df, http, renderer))
        secs.append(s)
        assert out.count() == opts.fetch_links
    return {
        "links": opts.fetch_links,
        "partitions": opts.partitions,
        "first_s": round(secs[0], 3),
        "warm_median_s": round(statistics.median(secs[1:]), 3) if secs[1:] else None,
        "warm_s": [round(s, 3) for s in secs[1:]],
    }


def probe_drain(spark, opts, clients) -> dict:
    from pyspark.sql import functions as F

    from joblink_etl_spark.operators import pipeline
    from joblink_etl_spark.operators.enqueue import enqueue

    http, renderer, llm = clients
    blank = {c: F.lit("") for c in ("canonical_link", "company_auto", "role_auto", "status",
                                    "source", "li_invite", "li_followup")}
    tracker = (
        links(spark, opts.drain_links, 1)
        .select(F.lit("S").alias("sheet_name"), "row_index", "link")
        .withColumns(blank)
    )
    queue = enqueue(
        tracker.select("sheet_name", "row_index", F.col("link").alias("url")),
        spark.createDataFrame([], "sheet_name string, row_index long, status string"),
        now=F.lit(datetime(2024, 1, 1)),
    )
    kinds: list[str] = []  # the batch kinds the drain ran, in order
    saved = pipeline.parse_batch, pipeline.notes_batch

    def counted(kind, fn):
        def call(*args, **kwargs):
            kinds.append(kind)
            return fn(*args, **kwargs)

        return call

    pipeline.parse_batch = counted("parse", saved[0])
    pipeline.notes_batch = counted("notes", saved[1])
    compiled = codegen_compilations(spark)
    try:
        secs, jobs, out = timed_jobs(
            spark, "drain",
            lambda: pipeline.drain_all(
                tracker, queue, None, http, renderer, llm, {"one-line hook": "builder"},
                batch_size=opts.batch_size, notes_batch_size=opts.batch_size,
                max_cycles=10_000,
            ),
        )
    finally:
        pipeline.parse_batch, pipeline.notes_batch = saved
    compiled = codegen_compilations(spark) - compiled
    workers = python_workers(spark)
    # a cycle runs a parse batch, then a notes batch, each only when its
    # queue holds work: a cycle starts at every batch but a notes batch
    # that follows its cycle's parse batch
    cycles = sum(k == "parse" or prev != "parse" for prev, k in zip([None] + kinds, kinds))
    counts = out["tracker"].groupBy("status").agg(F.count("*").alias("n")).collect()
    return {
        "links": opts.drain_links,
        "batch_size": opts.batch_size,
        "links_per_s": round(opts.drain_links / secs, 2),
        "links_per_min": round(60 * opts.drain_links / secs, 1),
        "drain_s": round(secs, 3),
        "cycles": cycles,
        "batches": {k: kinds.count(k) for k in ("parse", "notes")},
        "jobs_per_cycle": round(jobs / cycles, 1),
        "s_per_cycle": round(secs / cycles, 3),
        "codegen_classes": compiled,
        "python_workers_after": workers,
        "tracker_status": {r["status"]: r["n"] for r in counts},
    }


def _identity(batches):
    yield from batches


def main(argv: list[str] | None = None) -> None:
    opts = parse_args(argv)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    from joblink_etl_spark.clients import FakeLlmClient, FakeRendererClient, ThrowingHttpClient
    from joblink_etl_spark.session import default_parallelism, get_spark

    spark = get_spark("fetch_probe")
    spark.sparkContext.setLogLevel("ERROR")
    cores = default_parallelism()
    spark.range(0, 8 * cores, 1, cores).mapInPandas(_identity, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    clients = (ThrowingHttpClient(), FakeRendererClient(), FakeLlmClient())
    out = {"cores": cores}
    if opts.fetch_links:
        out["fetch"] = probe_fetch(spark, opts, clients)
    if opts.drain_links:
        out["drain"] = probe_drain(spark, opts, clients)
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
