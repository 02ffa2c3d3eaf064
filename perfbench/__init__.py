"""KG-pipeline benchmark: seeded workloads, correctness twins, traced layers.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
