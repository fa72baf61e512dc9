"""Seeded end-to-end and per-layer benchmark of the presto_truffle_spark engine.

Run it from the repository root with ``python3 perfbench/run.py --help``;
``perfbench/README.md`` says what each workload and metric is for.
"""
