#!/usr/bin/env python3
"""Sustained maintenance-stream run + chain-entry GC evidence (r14
VERDICT task 5): drive stream_document_maintenance (dedup store +
BM25 index, components off) and stream_graph_maintenance (node-graph
store, coreness off) through N waves each against the sf0.1 base,
recording per-wave latency and cache-root ENTRY + INODE growth.

The thing being demonstrated: with the default chain_retention=2
pruning (grace forced to 0 here so the bound is visible inside one
run), entry count per artifact stays O(retention) instead of
O(waves), while hard links already bounded bytes. Each wave runs as
its own availableNow stream pass over one new parquet/xml file —
the restart-per-wave shape also exercises sidecar resume every wave.

Usage:
  python scripts/measure_maintenance_stream.py --tag r15 \
      [--doc-waves 30] [--graph-waves 12] [--sf-dir /root/testdata/sf0.1]
Writes BENCH_maintstream_<tag>.json at the repo root.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree_stats(root: str) -> tuple[int, int]:
    """(top-level entries, total inodes) under a cache root."""
    if not os.path.isdir(root):
        return 0, 0
    entries = len(os.listdir(root))
    inodes = 0
    for _r, dirs, files in os.walk(root):
        inodes += len(dirs) + len(files)
    return entries, inodes


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--doc-waves", type=int, default=30)
    ap.add_argument("--graph-waves", type=int, default=12)
    ap.add_argument("--docs-per-wave", type=int, default=500)
    ap.add_argument("--retention", type=int, default=2)
    ap.add_argument("--work-dir", default="/tmp/spark_graft_maintstream")
    ap.add_argument("--tag", default="r15")
    args = ap.parse_args()

    from xml_to_sqlite3_spark.cache_util import store_root
    from xml_to_sqlite3_spark.session import get_spark
    from xml_to_sqlite3_spark.streaming.ingest import (
        stream_document_maintenance,
        stream_graph_maintenance,
    )

    shutil.rmtree(args.work_dir, ignore_errors=True)
    os.makedirs(args.work_dir)
    spark = get_spark(app_name="measure_maintenance_stream")
    spark.sparkContext.setLogLevel("ERROR")

    base_doc = os.path.join(args.sf_dir, "documents.parquet")
    doc_in = os.path.join(args.work_dir, "doc_incoming")
    doc_ckpt = os.path.join(args.work_dir, "doc_ckpt")
    os.makedirs(doc_in)

    # doc ids must clear the base corpus AND every earlier wave
    id0 = 10_000_000_000
    doc_waves = []
    mh_root, ix_root = store_root("minhash"), store_root("index")
    for w in range(args.doc_waves):
        ids = range(id0 + w * args.docs_per_wave, id0 + (w + 1) * args.docs_per_wave)
        df = spark.createDataFrame(
            [
                (i, f"wave {w} synthetic doc {i} alpha beta gamma "
                    f"delta common corpus words {i % 17} tail {i % 5}")
                for i in ids
            ],
            "doc_id long, text string",
        )
        staged = os.path.join(args.work_dir, f"stage_doc_{w}")
        df.repartition(1).write.parquet(staged)
        part = glob.glob(os.path.join(staged, "part-*.parquet"))[0]
        target = os.path.join(doc_in, f"wave{w:03d}.parquet")
        doc_waves.append((part, target))

    doc_series = []
    for w, (part, target) in enumerate(doc_waves):
        shutil.copy(part, target)
        t0 = time.perf_counter()
        q = stream_document_maintenance(
            spark, doc_in, base_doc, doc_ckpt,
            max_files_per_trigger=1, available_now=True,
            chain_retention=args.retention, chain_prune_grace_sec=0.0,
        )
        q.awaitTermination()
        sec = round(time.perf_counter() - t0, 2)
        e_mh, i_mh = _tree_stats(mh_root)
        e_ix, i_ix = _tree_stats(ix_root)
        doc_series.append(
            {"wave": w, "sec": sec, "mh_entries": e_mh, "mh_inodes": i_mh,
             "ix_entries": e_ix, "ix_inodes": i_ix}
        )
        print(json.dumps(doc_series[-1]), flush=True)

    # graph maintenance: synthetic XML docs appended onto the sf-dir
    # graph store (coreness off — the documented heavy-global opt-out)
    g_in = os.path.join(args.work_dir, "xml_incoming")
    g_ckpt = os.path.join(args.work_dir, "graph_ckpt")
    os.makedirs(g_in)
    g_root = store_root("graph")
    graph_series = []
    for w in range(args.graph_waves):
        items = "".join(
            f'<item id="msw{w}_{i}" ref="msw{w}_{(i + 1) % 40}">'
            f"wave {w} item {i} body text</item>"
            for i in range(40)
        )
        with open(os.path.join(g_in, f"wave{w:03d}.xml"), "w") as f:
            f.write(f'<catalog id="mswcat{w}">{items}</catalog>')
        t0 = time.perf_counter()
        q = stream_graph_maintenance(
            spark, g_in, args.sf_dir, g_ckpt,
            max_files_per_trigger=1, available_now=True,
            build_coreness=False,
            chain_retention=args.retention, chain_prune_grace_sec=0.0,
        )
        q.awaitTermination()
        sec = round(time.perf_counter() - t0, 2)
        e_g, i_g = _tree_stats(g_root)
        graph_series.append(
            {"wave": w, "sec": sec, "graph_entries": e_g, "graph_inodes": i_g}
        )
        print(json.dumps(graph_series[-1]), flush=True)

    def _summ(series, key):
        vals = [s[key] for s in series]
        return {"first": vals[0], "median": sorted(vals)[len(vals) // 2],
                "max": max(vals), "last": vals[-1]}

    out = {
        "metric": "maintenance_stream_sustained",
        "tag": args.tag,
        "sf_dir": args.sf_dir,
        "retention": args.retention,
        "doc_waves": args.doc_waves,
        "docs_per_wave": args.docs_per_wave,
        "graph_waves": args.graph_waves,
        "doc_wave_sec": _summ(doc_series, "sec"),
        "graph_wave_sec": _summ(graph_series, "sec"),
        "mh_entries": _summ(doc_series, "mh_entries"),
        "ix_entries": _summ(doc_series, "ix_entries"),
        "mh_inodes": _summ(doc_series, "mh_inodes"),
        "ix_inodes": _summ(doc_series, "ix_inodes"),
        "graph_entries": _summ(graph_series, "graph_entries")
        if graph_series else None,
        "graph_inodes": _summ(graph_series, "graph_inodes")
        if graph_series else None,
        "doc_series": doc_series,
        "graph_series": graph_series,
    }
    line = json.dumps(out)
    print(line)
    with open(f"BENCH_maintstream_{args.tag}.json", "w") as f:
        f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
