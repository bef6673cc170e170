"""Host-sized end-to-end and per-layer benchmark for halyard_spark.

Run ``python3 kgbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root.  ``kgbench/metrics.json`` lists
every metric with its unit, better direction and workloads.
"""
