"""Benchmark harness for crumble_spark: workloads, per-layer tracing,
kernel ladder and host-stamped result recording.  Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``.
"""
