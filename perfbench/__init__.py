"""Seeded end-to-end benchmark for the lakehouse engine.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root. See ``run.py``
for the workloads and the output contract.
"""
