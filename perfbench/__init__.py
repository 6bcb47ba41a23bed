"""Seeded, oracle-checked benchmark of the hilbert-curve-spark engine.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; ``perfbench/run.py`` documents
the workloads and metrics.
"""
