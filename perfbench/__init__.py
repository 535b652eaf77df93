"""Seeded end-to-end and per-layer benchmark for lexis_minhash_spark.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.  See
``perfbench/DESIGN.json`` for the workloads, metrics and the layer map.
"""
