"""Benchmark of the xml_to_sqlite3_spark package; run ``python3 perfbench/run.py --help``."""
