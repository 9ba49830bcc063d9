"""The benchmark's workloads. Each is a closed loop: one caller waits
for every drain to finish before issuing the next, as the reference's
time trigger drives its queue."""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime

from . import gen
from .expect import check_calls, check_drain, table_mismatch

TRACKER_COLS = (
    "sheet_name", "row_index", "link", "canonical_link", "company_auto", "role_auto",
    "status", "source", "li_invite", "li_followup",
)
EMPTY_QUEUE_SCHEMA = "sheet_name string, row_index long, status string"
PROFILE = {"one-line hook": "builder"}
BATCH = 12


class Workload:
    """``generate()`` makes the seeded inputs, ``op(tracer)`` runs one
    timed operation and returns its wall time, items completed and
    per-batch latencies, and ``check()`` returns (outputs attempted,
    outputs failed, messages) for the last op, outside the timed
    window. The other hooks default to doing nothing."""

    progress: list[dict] = []  # streaming progress of the last op

    def twins(self, tracer=None) -> tuple[int, int, list[str]]:
        return 0, 0, []

    def reset_counts(self) -> None:
        pass

    def check_calls(self) -> tuple[int, int, list[str]]:
        return 0, 0, []

    def client_calls(self) -> dict:
        return {}


class DrainB12(Workload):
    """``drain_all`` over one reference trigger's worth of links
    (``gen.DRAIN_CLASSES``: every URL class of the fakes, four of them
    twice) at batch_size = notes_batch_size = 12, so one drain cycle:
    a parse batch and a notes batch."""

    name = "drain_b12"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed = spark, seed
        self.path = os.path.join(work, "in", "tracker.parquet")
        self.ops = 0

    def generate(self) -> None:
        """Write the tracker sheet as one small parquet file, as a sheet
        export lands (one file, so one scan partition)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from .clients import counting_clients

        self.links = gen.drain_links(self.seed)
        rows = [
            {"sheet_name": "S", "row_index": k["row_index"], "link": k["url"],
             **dict.fromkeys(TRACKER_COLS[3:], "")}
            for k in self.links
        ]
        schema = pa.schema(
            [(c, pa.int64() if c == "row_index" else pa.string()) for c in TRACKER_COLS]
        )
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), self.path)
        self.acc, self.http, self.renderer, self.llm = counting_clients(self.spark.sparkContext)

    def reset_counts(self) -> None:
        self.acc.value, self.ops = {}, 0

    def op(self, tracer) -> dict:
        from pyspark.sql import functions as F

        from joblink_etl_spark.operators import pipeline
        from joblink_etl_spark.operators.enqueue import enqueue

        tracker = self.spark.read.parquet(self.path)
        queue = enqueue(
            tracker.select("sheet_name", "row_index", F.col("link").alias("url")),
            self.spark.createDataFrame([], EMPTY_QUEUE_SCHEMA),
            now=F.lit(datetime(2024, 1, 1)),
        )
        # a drain cycle starts with its parse batch, as the drain loop
        # looks it up; the last cycle ends with the drain
        starts: list[float] = []
        parse_batch = pipeline.parse_batch

        def timed_parse_batch(*args, **kwargs):
            starts.append(time.perf_counter())
            return parse_batch(*args, **kwargs)

        pipeline.parse_batch = timed_parse_batch
        try:
            t0 = time.perf_counter()
            self.out = pipeline.drain_all(
                tracker, queue, None, self.http, self.renderer, self.llm, PROFILE,
                batch_size=BATCH, notes_batch_size=BATCH, max_cycles=1000,
            )
            end = time.perf_counter()
        finally:
            pipeline.parse_batch = parse_batch
        self.ops += 1
        cycle_ms = [1000 * (b - a) for a, b in zip(starts, starts[1:] + [end])]
        return {"wall_s": end - t0, "items": len(self.links), "batch_ms": cycle_ms}

    def check(self) -> tuple[int, int, list[str]]:
        rows = [r.asDict() for r in self.out["tracker"].collect()]
        queue_left = self.out["queue"].filter("status = 'queued'").count()
        notes_left = self.out["notes_queue"].filter("status = 'queued'").count()
        return check_drain(self.links, rows, queue_left, notes_left)

    def check_calls(self) -> tuple[int, int, list[str]]:
        return check_calls(self.links, self.acc.value, self.ops)

    def client_calls(self) -> dict:
        calls = dict.fromkeys(("http", "render", "llm"), 0)
        for (kind, _), n in self.acc.value.items():
            calls[kind] += n
        return calls


def _write_files(table, bounds: list[int], src: str) -> None:
    """One parquet file per [bounds[i], bounds[i+1]) slice of a pyarrow
    table, with forced ascending mtimes: the file source reads files in
    mtime order."""
    import pyarrow.parquet as pq

    os.makedirs(src)
    for i in range(len(bounds) - 1):
        path = os.path.join(src, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        t = 1_700_000_000 + 60 * i
        os.utime(path, (t, t))


class StreamKAnon(Workload):
    """An availableNow drain at maxFilesPerTrigger=1 of
    ``streaming_k_anon_gate``, from fresh state, over the
    quasi-identifier projection of an ``events`` table drawn from the
    measured shape of sf0.1 ``events`` (``gen.events``)."""

    name = "stream_k_anon"
    K = 5
    QI = ["event_type", "hour", "value_bin"]
    QI_SCHEMA = "event_type string, hour long, value_bin long, event_id long"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work

    def generate(self) -> None:
        import pyarrow.parquet as pq

        shutil.rmtree(os.path.join(self.work, "in"), ignore_errors=True)
        events = gen.events(self.seed)
        self.tables = os.path.join(self.work, "in", "tables")
        os.makedirs(self.tables)
        pq.write_table(events, os.path.join(self.tables, "events.parquet"))
        _write_files(
            gen.qi_rows(events),
            gen.file_split(self.seed, events.num_rows),
            os.path.join(self.work, "in", "qi"),
        )

    def op(self, tracer) -> dict:
        from joblink_etl_spark.streaming.pipeline import streaming_k_anon_gate

        out_dir = os.path.join(self.work, "out")
        shutil.rmtree(out_dir, ignore_errors=True)
        stream = (
            self.spark.readStream.schema(self.QI_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.work, "in", "qi"))
        )
        writer = (
            streaming_k_anon_gate(stream, self.QI, k=self.K).writeStream.format("parquet")
            .option("path", os.path.join(out_dir, "k_anon"))
            .option("checkpointLocation", os.path.join(out_dir, "k_anon.ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
        )
        t0 = time.perf_counter()
        if tracer is None:
            q = writer.start()
            q.awaitTermination()
        else:
            with tracer.span("stream.k_anon") as rec:
                q = writer.start()
                # micro-batch jobs run under the query's own run id
                rec["groups"].append(str(q.runId))
                q.awaitTermination()
        wall = time.perf_counter() - t0
        self.progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return {
            "wall_s": wall,
            "items": sum(p["numInputRows"] for p in self.progress),
            "batch_ms": [p["durationMs"]["triggerExecution"] for p in self.progress],
        }

    def twins(self, tracer=None) -> tuple[int, int, list[str]]:
        """The gate's batch twin, computed once per run: the registered
        ``k_anon_gate`` query, itself compared with its DuckDB oracle.
        With a tracer, its build and noop-sink execution are recorded
        as the plans layer."""
        import duckdb

        from joblink_etl_spark.plans import registry

        build = registry.queries()["k_anon_gate"]
        if tracer is None:
            twin = build(self.spark, self.tables)
        else:
            with tracer.span("plans.build"):
                twin = build(self.spark, self.tables)
            with tracer.span("plans.exec"):
                twin.write.format("noop").mode("overwrite").save()
        self.want = twin.toArrow()
        con = duckdb.connect()
        try:
            events = os.path.join(self.tables, "events.parquet")
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{events}'")
            oracle = con.execute(registry.oracles()["k_anon_gate"]).fetch_arrow_table()
        finally:
            con.close()
        failed = min(table_mismatch(self.want, oracle), self.want.num_rows)
        errs = [f"k_anon_gate differs from its DuckDB oracle on {failed} rows"] if failed else []
        return self.want.num_rows, failed, errs

    def check(self) -> tuple[int, int, list[str]]:
        sink = self.spark.read.parquet(os.path.join(self.work, "out", "k_anon"))
        bad = table_mismatch(sink.select(*self.want.column_names).toArrow(), self.want)
        errs = [f"k_anon sink differs from its batch twin on {bad} rows"] if bad else []
        return self.want.num_rows, min(bad, self.want.num_rows), errs


WORKLOADS = {w.name: w for w in (DrainB12, StreamKAnon)}
