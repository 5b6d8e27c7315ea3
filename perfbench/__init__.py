"""Benchmark for the engine's read path and stream ingest. Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>``."""
