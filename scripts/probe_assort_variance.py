#!/usr/bin/env python3
"""Settle graph_assortativity's per-session wall-time spike (VERDICT
r11 task 5) with the ann_ivf treatment: same-session INTERLEAVED A/B
runs against a warm sf1 store, with JVM GC time and storage-memory
readings recorded per run.

A = graph_assortativity (the query under investigation).
B = a control that scans the SAME store table (tri_oriented count +
    degree aggregate) — if B spikes on the same iterations, the spike
    is box/IO noise; if only A spikes, it is plan-specific.

Prints ONE JSON line with the raw per-run arrays (the r11 evidence
standard: medians are the estimate, tails are visible).

Usage: python scripts/probe_assort_variance.py --sf /tmp/spark_graft_sf1 --n 8
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/spark_graft_sf1")
    ap.add_argument("--n", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from xml_to_sqlite3_spark.plans.node_graph import (
        get_store_table,
        graph_assortativity,
    )
    from xml_to_sqlite3_spark.session import get_spark

    spark = get_spark(app_name="assort_probe")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm

    def gc_ms() -> int:
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    # warm attach (not timed here; bench owns build accounting)
    tri = get_store_table(spark, args.sf, "tri_oriented")
    tri.count()

    runs_a, runs_b, gc_a, gc_b = [], [], [], []
    for _ in range(args.n):
        g0, t0 = gc_ms(), time.perf_counter()
        graph_assortativity(spark, args.sf).collect()
        runs_a.append(round(time.perf_counter() - t0, 2))
        gc_a.append(gc_ms() - g0)
        g0, t0 = gc_ms(), time.perf_counter()
        # control: same table, trivially different plan (scan + agg)
        tri.agg(F.count(F.lit(1)), F.countDistinct("u")).collect()
        runs_b.append(round(time.perf_counter() - t0, 2))
        gc_b.append(gc_ms() - g0)

    med = lambda xs: sorted(xs)[len(xs) // 2]
    print(
        json.dumps(
            {
                "metric": "assortativity_variance_probe",
                "sf": args.sf,
                "assortativity_s": runs_a,
                "assortativity_med": med(runs_a),
                "control_s": runs_b,
                "control_med": med(runs_b),
                "assortativity_gc_ms": gc_a,
                "control_gc_ms": gc_b,
                "unit": "sec",
            }
        )
    )


if __name__ == "__main__":
    main()
