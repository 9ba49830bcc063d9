#!/usr/bin/env python3
"""Run one benchmark workload and print its result as JSON.

    python3 perfbench/run.py --workload drain_b12 --seed 1 --seconds 10 --trace 0

Run from the repository root. The process starts one Spark session on
local[nproc], runs an untimed warm-up, builds the workload's inputs
from the seed, then repeats timed operations until their wall time
reaches --seconds (at least one), checking every output outside the
timed window. setup_s is the session start, the warm-up and the median
of several input generations. With --trace 0 the metrics are the
end-to-end ones; with --trace 1 the layer boundaries are wrapped in
spans and the metrics are the per-layer ones. The last line of
standard output is {"correct", "attempted", "failed", "metrics"}; the
line before it records the seed and the environment. Scratch files go
under .perfbench_work/, full records (spans included) under
.perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEADLINE_S = 170  # a run must end within 180 s
GENERATIONS = 3  # input generations per run; setup_s takes their median


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def configure_env(work: str) -> dict:
    """Point Spark, the JVM and the UDF workers at the checkout; return
    the environment record."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    # the package's 16g default exceeds small hosts' RAM
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # keep the JVM's temp files and hsperfdata out of the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def _comm(pid) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def jvm_pid(proc: subprocess.Popen) -> int | None:
    """The java process behind the py4j gateway (the launcher script
    may fork it rather than exec it)."""
    if _comm(proc.pid) == "java":
        return proc.pid
    for d in os.listdir("/proc"):
        if d.isdigit() and _comm(d) == "java":
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            if ppid == proc.pid:
                return int(d)
    return None


def peak_rss_mb(pid: int | None) -> float:
    """JVM VmHWM plus this process's ru_maxrss, in MB."""
    jvm_kb = 0
    if pid is not None:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def end_to_end_metrics(ops: list[dict], setup_s: float) -> dict:
    """Medians over the run's timed operations."""
    return {
        "items_per_s": statistics.median(o["items"] / o["wall_s"] for o in ops),
        "batch_ms_p50": statistics.median(b for o in ops for b in o["batch_ms"]),
        "setup_s": setup_s,
    }


def with_units(metrics: dict, kind: str) -> dict:
    """{name: {"value", "unit"}}; every name must be a `kind` metric of
    BENCHMARK.json."""
    units = {m["name"]: m["unit"] for m in bench_config()[kind]}
    return {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}


def layer_metrics(
    wl, tracer, sc, ops: list[dict], progress: list[dict], session_s: float, rss_mb: float
) -> dict:
    """Per-layer metrics of the traced run, per timed operation (the
    plans layer, which only the once-per-run twin check exercises,
    per run)."""
    from perfbench.trace import by_name, job_ids, spark_stats, union_ms

    n = len(ops)
    names = by_name(tracer.spans, sc)

    def per_op(name, key):
        return names.get(name, {}).get(key, 0) / n

    m = {}
    # a drain cycle runs at most one parse batch and one notes batch
    cycles = max(per_op("parse_batch", "calls"), per_op("notes_batch", "calls"))
    m["drain.cycles"] = cycles
    m["drain.jobs_per_cycle"] = per_op("drain", "jobs") / cycles if cycles else 0
    m["drain.s"] = per_op("drain", "s")
    m["drain.self_s"] = per_op("drain", "self_s")
    for name in ("parse_batch", "notes_batch", "fetch"):
        m[f"{name}.s"] = per_op(name, "s")
        m[f"{name}.self_s"] = per_op(name, "self_s")
    m["fetch.calls"] = per_op("fetch", "calls")
    m["fetch.jobs"] = per_op("fetch", "jobs")
    for name in ("decide", "escalate", "llm_rescue", "notes_llm", "writeback"):
        m[f"{name}.s"] = per_op(name, "s")
    m["escalate.jobs"] = per_op("escalate", "jobs")
    for name in ("checkpoint", "isEmpty"):
        for key in ("calls", "s", "jobs"):
            m[f"{name}.{key}"] = per_op(name, key)

    calls = wl.client_calls()
    for kind in ("http", "render", "llm"):
        m[f"clients.{kind}_calls"] = calls.get(kind, 0) / n
    m["clients.calls_per_link"] = (
        sum(calls.values()) / (len(wl.links) * n) if calls else 0
    )
    for key, name in (("build", "plans.build"), ("exec", "plans.exec")):
        m[f"plans.{key}_s"] = names.get(name, {}).get("s", 0)
        m[f"plans.{key}_jobs"] = names.get(name, {}).get("jobs", 0)

    planning = sum(p["durationMs"].get("queryPlanning", 0) for p in progress)
    m["catalyst.analysis_ms"] = tracer.catalyst_ms["analysis"] / n
    m["catalyst.optimization_ms"] = tracer.catalyst_ms["optimization"] / n
    m["catalyst.planning_ms"] = (tracer.catalyst_ms["planning"] + planning) / n

    op_spans = [s for s in tracer.spans if s["op"] > 0]
    top = [s for s in op_spans if s["parent"] is None]
    st = spark_stats(sc, job_ids(sc, [g for s in op_spans for g in s["groups"]]))
    for key in (
        "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    ):
        m[f"spark.{key}"] = st[key] / n
    wall_ms = sum(1000 * (s["end"] - s["start"]) for s in top)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m["spark.core_busy_ratio"] = st["executor_run_ms"] / (wall_ms * cores)
    busy = sum(
        union_ms(st["intervals"], tracer.epoch_ms(s["start"]), tracer.epoch_ms(s["end"]))
        for s in top
    )
    m["driver.no_job_s"] = (wall_ms - busy) / 1000 / n
    m["sources.input_bytes"] = st["input_bytes"] / n
    m["sources.input_rows"] = st["input_rows"] / n
    m["session.start_s"] = session_s
    m["peak_rss_mb"] = rss_mb

    m["stream.batches"] = len(progress) / n
    for key, dur in (
        ("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit"),
        ("commit_offsets_ms", "commitOffsets"), ("latest_offset_ms", "latestOffset"),
    ):
        m[f"stream.{key}"] = sum(p["durationMs"].get(dur, 0) for p in progress) / n
    # state held at the end of each drain: its last batch's operators
    last = {p["runId"]: p for p in progress}
    ops_end = [o for p in last.values() for o in p.get("stateOperators", [])]
    m["stream.state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops_end) / n
    m["stream.state_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in ops_end) / n
    m["stream.state_commit_ms"] = sum(
        o.get("commitTimeMs", 0) for p in progress for o in p.get("stateOperators", [])
    ) / n
    m["traced.items_per_s"] = statistics.median(o["items"] / o["wall_s"] for o in ops)
    return m


def _identity(batches):
    yield from batches


def warm_up(spark, nproc: int) -> None:
    """Untimed warm-up: the session's first job, and one pandas batch
    on every core so the Python worker pool is forked and has imported
    pandas and pyarrow before any timed operation."""
    spark.range(0, 8 * nproc, 1, nproc).mapInPandas(_identity, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "joblink_etl_spark", "__init__.py")):
        print(f"perfbench: no joblink_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    env = configure_env(work)
    spark = proc = None
    try:
        from joblink_etl_spark.session import get_spark
        from perfbench.trace import Tracer, install
        from perfbench.workloads import WORKLOADS

        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                # keep every job and stage of the run in the status store
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        sc = spark.sparkContext
        proc = sc._gateway.proc
        sc.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        env.update(spark=spark.version, java=sc._jvm.System.getProperty("java.version"))

        t = time.perf_counter()
        warm_up(spark, env["nproc"])
        warm_s = time.perf_counter() - t
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        gen_s = []
        for _ in range(GENERATIONS):
            t = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t)
        setup_s = session_s + warm_s + statistics.median(gen_s)
        phases = {"session_s": session_s, "generate_s": gen_s, "warm_s": warm_s}

        tracer = Tracer(sc, run_id) if args.trace else None
        attempted = failed = 0
        errors: list[str] = []

        def tally(outcome):
            nonlocal attempted, failed, errors
            attempted, failed, errors = (
                attempted + outcome[0], failed + outcome[1], errors + outcome[2]
            )

        wl.reset_counts()
        ops, progress = [], []
        while not ops or sum(o["wall_s"] for o in ops) < args.seconds:
            if tracer:
                tracer.op = len(ops) + 1
            with install(tracer) if tracer else nullcontext():
                ops.append(wl.op(tracer))
            if tracer:
                tracer.op = 0
            progress += wl.progress
            t = time.perf_counter()
            if len(ops) == 1:
                # the batch twins, once per run, after the first timed op
                # so that it is the first of its session
                tally(wl.twins(tracer))
            tally(wl.check())
            phases["check_s"] = phases.get("check_s", 0) + time.perf_counter() - t
        tally(wl.check_calls())
        phases["ops_s"] = [o["wall_s"] for o in ops]
        phases["total_s"] = time.perf_counter() - t0

        if tracer:
            rss_mb = peak_rss_mb(jvm_pid(proc))
            metrics = layer_metrics(wl, tracer, sc, ops, progress, session_s, rss_mb)
        else:
            metrics = end_to_end_metrics(ops, setup_s)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": with_units(metrics, "per_layer" if tracer else "end_to_end"),
        }
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "ops": len(ops), "env": env, "phases": phases, "errors": errors[:50],
        }
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(path, "w") as f:
            json.dump({**record, "result": result, "spans": tracer.spans if tracer else []}, f)
        for e in errors[:20]:
            print(f"perfbench: mismatch: {e}", file=sys.stderr)
        print(json.dumps(record))
        print(json.dumps(result))
        return 0
    finally:
        signal.alarm(0)
        if spark is not None:
            spark.stop()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
