"""Frontier benchmark: seeded workloads over the engine's public API.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from any working directory; ``BENCHMARK.json``
at the repository root lists the workloads and metrics. ``metrics`` holds
the Spark-free arithmetic (checked by ``test_metrics.py``), ``workloads``
the Spark-facing set-up and iterations, ``procs`` the process-tree memory
sampling and clean-up.
"""
