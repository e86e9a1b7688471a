"""Seeded, layer-attributed benchmark of the tablite_spark engine.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
