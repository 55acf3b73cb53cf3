"""Benchmark of the CDC engine: workloads, spans and Spark event-log folding.

Run it with ``python3 cdcbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the root of the repository; see
``cdcbench/README.md``.
"""
