"""End-to-end and per-layer benchmark of the shipped extraction and
curation jobs.  Entry point: ``python3 perfbench/run.py --help``."""
