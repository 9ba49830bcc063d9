"""Probe of the streaming k-anonymity gate over synthetic events.

    python tools/stream_probe.py [--rows 100000] [--value-bin 10]
        [--seed 7] [--repeat 1]

Draws an ``events`` table of --rows rows from the sf0.1 shape
(``perfbench.gen.events``), projects it to the gate's quasi-identifiers
(event type, hour of day, value in bins of --value-bin; the bin width
sets the number of QI classes), splits it into the benchmark's source
files (``perfbench.gen.file_split``) and drains
``streaming_k_anon_gate`` (the benchmark's QI columns and k) over them
at one file per trigger from fresh state, with Trigger.AvailableNow.
With --repeat N the drain runs N times in one session, each from fresh
state.

Prints one JSON line: the rows and QI classes, then per drain its
seconds and rows/s and, per micro-batch, the ``addBatch`` ms, the
state store's rows and bytes and its commit ms (Spark's streaming
progress). ``warm`` gives the median seconds of the N - 1 drains
after the first. Run from the repository root; the package on
``sys.path`` is the one measured.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.getcwd())

from perfbench import gen  # noqa: E402
from perfbench.workloads import StreamKAnon, _write_files  # noqa: E402


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        description="Drain streaming_k_anon_gate over synthetic events.", allow_abbrev=False
    )
    p.add_argument("--rows", type=int, default=100_000, help="events drawn")
    p.add_argument("--value-bin", type=float, default=10.0,
                   help="width of the value bins of the QI (sets the class count)")
    p.add_argument("--seed", type=int, default=7, help="seed of the events and the file split")
    p.add_argument("--repeat", type=int, default=1, help="drains in the session")
    opts = p.parse_args(argv)
    if opts.rows < 1:
        p.error("--rows must be at least 1")
    if opts.value_bin <= 0:
        p.error("--value-bin must be positive")
    if opts.repeat < 1:
        p.error("--repeat must be at least 1")
    return opts


def write_source(opts, src: str) -> int:
    """The QI rows as the benchmark's source files (one micro-batch
    each); returns the number of QI classes."""
    import numpy as np
    import pyarrow as pa

    events = gen.events(opts.seed, opts.rows)
    qi = gen.qi_rows(events)
    bins = np.floor(events["value"].to_numpy() / opts.value_bin).astype(np.int64)
    qi = qi.set_column(qi.schema.get_field_index("value_bin"), "value_bin", pa.array(bins))
    _write_files(qi, gen.file_split(opts.seed, qi.num_rows), src)
    return qi.group_by(StreamKAnon.QI).aggregate([]).num_rows


def drain(spark, src: str, out: str) -> dict:
    """One availableNow drain of the gate from fresh state."""
    from joblink_etl_spark.streaming.pipeline import streaming_k_anon_gate

    shutil.rmtree(out, ignore_errors=True)
    stream = spark.readStream.schema(StreamKAnon.QI_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    t0 = time.perf_counter()
    q = (
        streaming_k_anon_gate(stream, StreamKAnon.QI, k=StreamKAnon.K).writeStream.format("parquet")
        .option("path", os.path.join(out, "sink"))
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    secs = time.perf_counter() - t0
    batches = []
    rows = 0
    for p in q.recentProgress:
        if not p["numInputRows"]:
            continue
        rows += p["numInputRows"]
        ops = p.get("stateOperators", [])
        batches.append({
            "rows": p["numInputRows"],
            "add_batch_ms": p["durationMs"].get("addBatch"),
            "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
            "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
            "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        })
    return {"s": round(secs, 3), "rows_per_s": round(rows / secs, 1), "batches": batches}


def probe(spark, opts, work: str) -> dict:
    src = os.path.join(work, "qi")
    classes = write_source(opts, src)
    drains = [drain(spark, src, os.path.join(work, "out")) for _ in range(opts.repeat)]
    result = {"rows": opts.rows, "value_bin": opts.value_bin, "classes": classes, "drains": drains}
    if drains[1:]:
        result["warm"] = {"median_s": round(statistics.median(d["s"] for d in drains[1:]), 3)}
    return result


def main(argv: list[str] | None = None) -> None:
    opts = parse_args(argv)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    from joblink_etl_spark.session import get_spark

    spark = get_spark("stream_probe")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="stream_probe_")
    try:
        print(json.dumps(probe(spark, opts, work)), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
