"""Benchmark harness for the engine: seeded inputs, three workloads,
end-to-end metrics with a correctness check, and a traced per-layer run.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root (see README.md).
"""
