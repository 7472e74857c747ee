"""Seeded end-to-end and per-layer benchmark for the transcript search
engine. Entry point: ``python3 perfbench/run.py --workload <name>``."""
