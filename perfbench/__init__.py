"""Live, layered benchmark for supercrawler_spark.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` runs one workload in a fresh process and prints one JSON
result line; see perfbench/README.md for the workloads and metrics.
"""
