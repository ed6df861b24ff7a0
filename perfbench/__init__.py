"""End-to-end and per-layer benchmark for the engine's driver-contract
query keys. Entry point: ``python3 perfbench/run.py`` (see README.md)."""
