"""CLI — drop-in equivalent of the reference's main.rb interface.

    python -m xml_to_sqlite3_spark -i /path/to/xml_files -o out.sqlite3
    python -m xml_to_sqlite3_spark -i dir -o out.sqlite3 -v --no-relationships
    python -m xml_to_sqlite3_spark -i dir --parquet-out /data/corpus

Options mirror main.rb:30-37 (-i/--input, -o/--output, -f/--force,
-v/--verbose, --no-relationships); --concurrency maps to Spark local
parallelism; --parquet-out selects the distributed sink instead of
the single-file SQLite compat sink.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="xml_to_sqlite3_spark",
        description="Convert a directory of XML files to SQLite/parquet, Spark-side.",
    )
    parser.add_argument("-i", "--input", default="xml_files", help="input directory of XML files")
    parser.add_argument("-o", "--output", default="db/output.sqlite3", help="output SQLite file")
    parser.add_argument("--parquet-out", default=None, help="write parquet tables here instead of SQLite")
    parser.add_argument("-f", "--force", action="store_true", help="overwrite existing output")
    parser.add_argument("-v", "--verbose", action="store_true", help="verbose output")
    parser.add_argument("-c", "--concurrency", type=int, default=None, help="local parallelism (default: all cores)")
    parser.add_argument("--no-relationships", action="store_true", help="disable relationship detection")
    parser.add_argument("--batch-size", type=int, default=1000, help="SQLite insert batch size")
    parser.add_argument("--format", default="xml", choices=("xml", "csv", "json"),
                        help="input format: xml directory (default) or a csv/json record file routed through the same node model")
    parser.add_argument("--node-type", default="record", help="[csv/json] node_type for each record")
    parser.add_argument("--id-col", default="id", help="[csv/json] record id column")
    parser.add_argument("--parent-col", default=None, help="[csv/json] optional parent-id column")
    parser.add_argument("--content-col", default=None, help="[csv/json] optional content column")
    args = parser.parse_args(argv)

    if args.format == "xml" and not os.path.isdir(args.input):
        print(f"error: input directory not found: {args.input}", file=sys.stderr)
        return 2
    if args.format != "xml" and not os.path.exists(args.input):
        print(f"error: input not found: {args.input}", file=sys.stderr)
        return 2

    from .session import get_spark
    from .sources import read_xml_corpus
    from .sinks import write_corpus_parquet, write_corpus_sqlite

    print("Starting XML to SQLite conversion...")
    print(f"Input directory: {args.input}")
    print(f"Output: {args.parquet_out or args.output}")

    master = f"local[{args.concurrency}]" if args.concurrency else None
    spark = get_spark(app_name="xml_to_sqlite3_spark_cli", master=master)
    t0 = time.perf_counter()

    if args.format == "xml":
        corpus = read_xml_corpus(spark, args.input)
    else:
        from .sources.tabular_source import read_tabular_corpus

        corpus = read_tabular_corpus(
            spark, args.input, fmt=args.format, node_type=args.node_type,
            id_col=args.id_col, parent_col=args.parent_col,
            content_col=args.content_col,
        )

    xrefs = None
    if not args.no_relationships:
        from .operators.relationships import detect_all_relationships

        from pyspark.sql import functions as F

        # carry the originating document as source_file (reference
        # column; also the delete-then-insert idempotence key)
        xrefs = detect_all_relationships(corpus.nodes, corpus.properties).withColumn(
            "source_file", F.col("document_id")
        )

    if args.parquet_out:
        if os.path.exists(args.parquet_out) and not args.force:
            print(f"error: output exists (use --force): {args.parquet_out}", file=sys.stderr)
            return 2
        write_corpus_parquet(corpus, args.parquet_out)
        if xrefs is not None:
            xrefs.write.mode("overwrite").parquet(os.path.join(args.parquet_out, "cross_references"))
    else:
        if os.path.exists(args.output):
            if not args.force:
                print(f"error: output exists (use --force): {args.output}", file=sys.stderr)
                return 2
            os.remove(args.output)
        os.makedirs(os.path.dirname(os.path.abspath(args.output)), exist_ok=True)
        counts = write_corpus_sqlite(
            corpus, args.output, cross_references=xrefs, batch_size=args.batch_size
        )

    if args.verbose:
        for row in corpus.errors.collect():
            print(f"Error processing {row['filename']}: {row['parse_error']}")

    # main.rb:118-135 print_stats parity
    from pyspark.sql import functions as F

    stats = corpus.nodes.agg(
        F.count(F.lit(1)).alias("total_nodes"),
        F.countDistinct("node_type").alias("node_types"),
        F.countDistinct("document_id").alias("documents"),
    ).collect()[0]
    if xrefs is None:
        n_xrefs = 0
    elif args.parquet_out:
        n_xrefs = xrefs.count()
    else:
        # the sink already counted them; counting again re-runs detection
        n_xrefs = counts["cross_references"]

    print(f"Conversion complete! ({time.perf_counter() - t0:.1f}s)")
    print("\nDatabase Statistics:")
    print(f"Total nodes: {stats['total_nodes']}")
    print(f"Node types: {stats['node_types']}")
    print(f"Documents: {stats['documents']}")
    print(f"Cross-references: {n_xrefs}")
    if not args.parquet_out and os.path.exists(args.output):
        print(f"Database size: {os.path.getsize(args.output) / (1024 * 1024):.2f} MB")
    return 0


if __name__ == "__main__":
    sys.exit(main())
