"""The benchmark's workloads.

Each workload generates its inputs from the seed (untimed), sets up
(timed as ``setup_s``: the runner times the session start, the
workload adds its cold store builds), then runs operations, one at a
time, drawn from ``ops`` in a seeded order each round. An operation
calls the package's public functions inside spans named
``<layer>.<function>``; its result is checked after its timed region.
"""

from __future__ import annotations

import os
import statistics

from . import check, gen


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


class XmlToSqlite:
    """The reference's CLI default path (``__main__.main -o out.sqlite3``)
    over a generated XML corpus, with the CLI's call sequence."""

    name = "xml_to_sqlite"
    ops = ("convert",)
    nominal_round_s = 14.0

    def generate(self, run_dir: str, seed: int) -> None:
        self.xml_dir = os.path.join(run_dir, "input", "xml")
        self.out_dir = os.path.join(run_dir, "out")
        os.makedirs(self.out_dir, exist_ok=True)
        self.manifest = gen.xml_corpus(self.xml_dir, seed)
        self.input_bytes = self.manifest["xml_bytes"]
        self.stored_bytes = 0

    def setup(self, spark, tr) -> None:
        pass

    def run_op(self, spark, tr, op: str, i: int):
        from pyspark.sql import functions as F

        from xml_to_sqlite3_spark.operators.relationships import detect_all_relationships
        from xml_to_sqlite3_spark.sinks import write_corpus_sqlite
        from xml_to_sqlite3_spark.sources import read_xml_corpus

        out = os.path.join(self.out_dir, f"conv{i}.sqlite3")
        with tr.span("xml_source.read_xml_corpus", "call", i):
            corpus = read_xml_corpus(spark, self.xml_dir)
        with tr.span("relationships.detect_all_relationships", "call", i):
            xrefs = detect_all_relationships(corpus.nodes, corpus.properties).withColumn(
                "source_file", F.col("document_id")
            )
        with tr.span("sqlite_sink.write_corpus_sqlite", "eval", i):
            write_corpus_sqlite(corpus, out, cross_references=xrefs)
        with tr.span("cli.print_stats", "eval", i):
            stats = corpus.nodes.agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
            n_xrefs = xrefs.count()
        return out, corpus, stats, n_xrefs

    def check(self, op: str, result) -> str | None:
        out, corpus, n_nodes, n_xrefs = result
        try:
            self.stored_bytes = os.path.getsize(out)
            bad = check.conversion_diff(out, corpus.errors.count(), self.manifest)
        finally:
            os.remove(out)
        if bad is None and n_nodes != self.manifest["nodes"]:
            bad = f"stats: {n_nodes} nodes"
        if bad is None and n_xrefs != sum(self.manifest["xrefs"].values()):
            bad = f"stats: {n_xrefs} cross-references"
        return bad

    def report(self, r: dict, lat: dict, spans: list) -> dict:
        xrefs = sum(self.manifest["xrefs"].values())
        rows = (self.manifest["documents"] + self.manifest["nodes"]
                + sum(self.manifest["properties"].values()) + xrefs)
        writes = [s.seconds for s in spans if s.name == "sqlite_sink.write_corpus_sqlite"]
        return {
            "ingest_xml_mb_per_s": self.input_bytes / 1e6 / statistics.median(lat["convert"]),
            "sqlite_bytes_per_xml_byte": self.stored_bytes / self.input_bytes,
            "relationships.xref_rows": xrefs,
            "sqlite_sink.rows_per_s": rows / statistics.median(writes),
        }


class WarmQueries:
    """The build-once, query-many posture: set-up builds the node-graph
    store and the BM25 index cold, then every round runs the README /
    examples/sql_queries.md query surface on the store and the
    LLM-curation gates on a document corpus. Each gate from
    ``__spark_entry__.queries()`` is timed as call (the gate returns
    its DataFrame) plus evaluate (``collect``) and checked against its
    ``oracle_sql()`` replay in DuckDB, or, for a gate without an
    oracle, for a non-empty result."""

    name = "warm_queries"
    nominal_round_s = 10.0
    # gate -> the layer its span is charged to
    graph_gates = {
        "nodes_by_type": "node_graph", "attribute_search": "node_graph",
        "multi_attribute_search": "node_graph", "xpath_search": "node_graph",
        "content_search": "node_graph", "hierarchy_levels": "node_graph",
        "ancestors": "hierarchy", "descendants": "hierarchy",
        "relationship_summary": "node_graph", "node_connection_counts": "node_graph",
        "most_connected": "node_graph", "bidirectional_refs": "node_graph",
        "broken_references": "node_graph", "node_references": "node_graph",
        "graph_distances": "graph",
    }
    curation_gates = {
        "curate_cheap": "pipeline", "dedup_exact": "dedup",
        "gopher_quality": "curation", "normalize_redact": "curation",
        "lm_quality": "text", "bm25_search": "search", "nb_classify": "classify",
    }
    layers = graph_gates | curation_gates
    ops = tuple(layers)
    _store_tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

    def generate(self, run_dir: str, seed: int) -> None:
        import __spark_entry__ as entry

        self.graph_dir = os.path.join(run_dir, "input", "graph")
        self.docs_dir = os.path.join(run_dir, "input", "docs")
        gen.graph_tables(self.graph_dir, seed)
        gen.documents(self.docs_dir, seed)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.graph_dir, f"{t}.parquet")) for t in self._store_tables
        ) + os.path.getsize(os.path.join(self.docs_dir, "documents.parquet"))
        self.dirs = {g: self.graph_dir for g in self.graph_gates}
        self.dirs.update({g: self.docs_dir for g in self.curation_gates})
        qs, oracles = entry.queries(), entry.oracle_sql()
        self.queries = {g: qs[g] for g in self.layers}
        self.oracles = {g: oracles.get(g) for g in self.layers}
        self._want: dict[str, tuple] = {}

    def setup(self, spark, tr) -> None:
        from xml_to_sqlite3_spark.operators.search import get_text_index
        from xml_to_sqlite3_spark.plans.node_graph import get_graph

        with tr.span("node_graph.get_graph", "setup"):
            get_graph(spark, self.graph_dir)
        with tr.span("search.get_text_index", "setup"):
            get_text_index(spark, os.path.join(self.docs_dir, "documents.parquet"))
        self.store_bytes = dir_bytes(os.environ["SPARK_GRAFT_GRAPH_CACHE"])
        self.stored_bytes = self.store_bytes + dir_bytes(os.environ["SPARK_GRAFT_INDEX_CACHE"])

    def run_op(self, spark, tr, op: str, i: int):
        name = f"{self.layers[op]}.{op}"
        with tr.span(name, "call", i):
            df = self.queries[op](spark, self.dirs[op])
        with tr.span(name, "eval", i):
            rows = df.collect()
        return check.canonical(list(df.columns), [tuple(r) for r in rows])

    def check(self, op: str, result) -> str | None:
        if self.oracles[op] is None:
            return None if result[1] else "empty result"
        if op not in self._want:
            self._want[op] = check.oracle_result(self.oracles[op], self.dirs[op])
        return check.diff(result, self._want[op])

    def report(self, r: dict, lat: dict, spans: list) -> dict:
        graph_ms = [1000 * t for g in self.graph_gates for t in lat[g]]
        return {
            "query_p50_ms": statistics.median(graph_ms),
            "query_p90_ms": statistics.quantiles(graph_ms, n=10, method="inclusive")[-1],
            "curation_round_s": sum(statistics.median(lat[g]) for g in self.curation_gates if lat[g]),
            "store_bytes_per_input_byte": self.store_bytes / sum(
                os.path.getsize(os.path.join(self.graph_dir, f"{t}.parquet"))
                for t in self._store_tables),
            "node_graph.store_bytes": self.store_bytes,
        }


WORKLOADS = {w.name: w for w in (XmlToSqlite, WarmQueries)}
