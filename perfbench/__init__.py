"""sparkwatch benchmark package; entry point perfbench/run.py."""
