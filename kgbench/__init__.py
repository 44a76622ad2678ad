"""Box-fitted benchmark for promptner_spark with a per-layer ledger.

Run ``python3 kgbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``kgbench/README.md``.
"""
