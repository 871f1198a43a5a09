"""Seeded end-to-end and per-layer benchmark for eel_sdk_spark.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; ``--selftest`` runs the input and
status-store self-tests instead.
"""
