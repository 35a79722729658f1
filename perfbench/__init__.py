"""The repository benchmark: the gateway request path and the operator batch.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; ``--describe`` prints every
workload and metric with its unit and mapping. See ``perfbench/spec.py``.
"""
