"""Benchmark of the joblink_etl_spark pipeline: seeded inputs, closed-loop
workloads, output checks and an optional span trace. Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root."""
